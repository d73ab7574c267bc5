"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched ``mapInPandas``.

Two decode tiers:

* ``decode_real`` / ``decode_headers`` — REAL pure-stdlib container-header
  parsing (PNG/GIF/BMP/JPEG format + dimensions; no dependencies).
* ``decode_binary_meta`` and the resize/frame/feature family — the pixel
  decode is RUNTIME-OPTIONAL: each worker tries ``import PIL`` once and,
  when present, emits real decoded dimensions (failure rows → NULL);
  when absent (this container), deterministic fakes computed from the
  raw bytes behind the same UDF signature, schema, and Arrow batch shape
  — so the oracles stay exact here and a PIL-equipped cluster gets real
  pixels with zero code change. Frame/feature extraction remains the
  ffmpeg/encoder seam (deterministic stand-ins).

Scale shape: mapInPandas streams Arrow record batches through one Python
worker per partition — decode parallelism == partition count, bytes never
pass through the driver, and the pattern is identical at 100 TB (partition
sizing governed by spark.sql.files.maxPartitionBytes on the binary-file
source).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

DECODED_META_SCHEMA = (
    "doc_id long, n_bytes long, content_sha int, fake_width long, fake_height long"
)


def decode_real(payload: bytes) -> dict:
    """Real header decode — PNG / GIF / BMP / JPEG format and dimensions
    with no dependencies. Full pixel decode still needs PIL/ffmpeg
    (absent from this container); container headers are enough for the
    metadata columns the pipeline actually uses (format, width, height)."""
    import struct

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        # IHDR is mandatory-first: width/height are big-endian u32 at 16
        if len(payload) < 24 or payload[12:16] != b"IHDR":
            raise ValueError("truncated PNG header")
        w, h = struct.unpack(">II", payload[16:24])
        return {"format": "png", "width": w, "height": h}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            raise ValueError("truncated GIF header")
        w, h = struct.unpack("<HH", payload[6:10])
        return {"format": "gif", "width": w, "height": h}
    if payload[:2] == b"BM":
        if len(payload) < 26:
            raise ValueError("truncated BMP header")
        # BITMAPINFOHEADER: int32 LE width/height at 18/22; height may
        # be negative for top-down DIBs
        w, h = struct.unpack("<ii", payload[18:26])
        return {"format": "bmp", "width": w, "height": abs(h)}
    if payload[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOFn frame header
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:  # standalone
                i += 2
                continue
            if i + 4 > len(payload):
                break
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(payload):
                    break
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return {"format": "jpeg", "width": w, "height": h}
            i += 2 + seg_len
        raise ValueError("truncated JPEG: no SOF marker found")
    raise ValueError("unsupported image container (not PNG/GIF/BMP/JPEG)")


HEADER_META_SCHEMA = "doc_id long, format string, width long, height long"


def _mp4_boxes(buf: bytes, i: int, end: int):
    """ISO-BMFF box walk over ``buf[i:end]``: yields ``(type, body_start,
    box_end)``. size==1 means a 64-bit largesize follows the type, size==0
    a box that runs to ``end``; raises ``ValueError`` on truncation or an
    over-long size (the module's failure-row convention)."""
    import struct

    while i + 8 <= end:
        (size,) = struct.unpack(">I", buf[i : i + 4])
        btype = buf[i + 4 : i + 8]
        body = i + 8
        min_size = 8
        if size == 1:
            if i + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", buf[i + 8 : i + 16])
            body = i + 16
            min_size = 16  # the largesize field is inside the box
        elif size == 0:
            size = end - i
        if size < min_size or i + size > end:
            raise ValueError("truncated mp4 box")
        yield btype, body, i + size
        i += size


def probe_real(payload: bytes) -> dict:
    """The pure-stdlib media prober (images + RIFF/WAVE audio + ISO-BMFF
    video containers). Images return the header dict of ``decode_real``;
    16-bit PCM WAV returns channels / sample rate / bit depth / sample
    count plus the raw PCM bytes for DSP downstream; MP4/MOV walks the box
    tree for mvhd duration (version 0 and 1) and the first video track's
    tkhd 16.16 fixed-point dims (audio-only tracks carry 0×0 and leave
    dims NULL). The RIFF chunk walk
    honors the even-byte padding rule; both walks raise ``ValueError`` on
    any truncation or over-long box size (the failure-row convention)."""
    import struct

    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        # ISO-BMFF (MP4/MOV): walk top-level boxes, then moov's
        # children for mvhd (timescale+duration) and the first video
        # tkhd (16.16 fixed-point dims). Version-0 and -1 boxes both parse.
        mvhd = None
        width = height = None
        for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
            if btype != b"moov":
                continue
            for ctype, cbody, cend in _mp4_boxes(payload, body, bend):
                if ctype == b"mvhd":
                    ver = payload[cbody] if cbody < cend else 0
                    need = 32 if ver == 1 else 20
                    if cbody + need > cend:
                        raise ValueError("truncated mvhd box")
                    if ver == 1:
                        ts, dur = struct.unpack(">IQ", payload[cbody + 20 : cbody + 32])
                    else:
                        ts, dur = struct.unpack(">II", payload[cbody + 12 : cbody + 20])
                    if ts < 1:
                        raise ValueError("invalid mvhd timescale")
                    mvhd = (ts, dur)
                elif ctype == b"trak" and width is None:
                    for ttype, tbody, tend in _mp4_boxes(payload, cbody, cend):
                        if ttype == b"tkhd":
                            ver = payload[tbody] if tbody < tend else 0
                            off = tbody + (88 if ver == 1 else 76)
                            if off + 8 > tend:
                                raise ValueError("truncated tkhd box")
                            w16, h16 = struct.unpack(">II", payload[off : off + 8])
                            if w16 and h16:  # audio tracks carry 0x0
                                width, height = w16 >> 16, h16 >> 16
                            break
        if mvhd is None:
            raise ValueError("mp4 missing mvhd")
        ts, dur = mvhd
        return {
            "format": "mp4",
            "width": width,
            "height": height,
            "duration_ms": dur * 1000.0 / ts,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i, fmt, data = 12, None, None
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
            body = payload[i + 8 : i + 8 + size]
            if len(body) < size:
                raise ValueError("truncated WAV chunk")
            if cid == b"fmt ":
                if size < 16:
                    raise ValueError("short fmt chunk")
                afmt, ch, rate, _brate, _balign, bits = struct.unpack("<HHIIHH", body[:16])
                if afmt != 1:
                    raise ValueError("only PCM (format 1) WAV supported")
                if ch < 1 or rate < 1:
                    raise ValueError("invalid fmt chunk")
                fmt = (ch, rate, bits)
            elif cid == b"data":
                data = body
            i += 8 + size + (size & 1)  # chunks pad to even offsets
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt/data chunk")
        ch, rate, bits = fmt
        if bits != 16:
            raise ValueError("only 16-bit PCM supported")
        n = len(data) // (2 * ch)
        return {
            "format": "wav",
            "channels": ch,
            "sample_rate": rate,
            "bits": bits,
            "n_samples": n,
            "pcm": data[: n * 2 * ch],
        }
    return decode_real(payload)


MEDIA_PROBE_SCHEMA = (
    "doc_id long, format string, width long, height long, channels long, "
    "sample_rate long, bits long, n_samples long, duration_ms double, "
    "rms double, peak long, zero_crossings long"
)


def probe_media(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """ffprobe-shaped media probe over a mixed binary column: one
    Arrow-batched pass yields per-asset typed metadata — images get
    (format, width, height); MP4 containers get (width, height,
    duration_ms) from the real box walk; 16-bit PCM WAV additionally gets
    REAL numpy DSP over the decoded samples: duration, RMS, peak amplitude,
    and zero-crossing count (the standard cheap audio-quality/VAD
    signals). Multi-channel audio is downmixed (per-frame channel mean)
    before the DSP, the usual mono analysis convention. Undecodable
    payloads yield all-NULL metadata rows, so one bad object never fails
    a 100 TB scan; empty audio (0 samples) keeps its header metadata
    with NULL signal stats."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        cols = [
            "doc_id", "format", "width", "height", "channels", "sample_rate",
            "bits", "n_samples", "duration_ms", "rms", "peak", "zero_crossings",
        ]
        nulls = (None,) * (len(cols) - 1)
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                try:
                    m = probe_real(bytes(payload))
                except (ValueError, TypeError):
                    rows.append((doc_id, *nulls))
                    continue
                if m["format"] == "mp4":
                    rows.append(
                        (doc_id, "mp4", m["width"], m["height"], *(None,) * 4,
                         m["duration_ms"], None, None, None)
                    )
                    continue
                if m["format"] != "wav":
                    rows.append(
                        (doc_id, m["format"], m["width"], m["height"], *(None,) * 8)
                    )
                    continue
                ch, rate, n = m["channels"], m["sample_rate"], m["n_samples"]
                meta = (doc_id, "wav", None, None, ch, rate, m["bits"], n, n * 1000.0 / rate)
                if n == 0:
                    rows.append((*meta, None, None, None))
                    continue
                s = _np.frombuffer(m["pcm"], dtype="<i2").astype(_np.float64)
                if ch > 1:
                    s = s.reshape(-1, ch).mean(axis=1)
                rms = float(_np.sqrt(_np.mean(s * s)))
                peak = int(_np.max(_np.abs(s)))
                zc = int(_np.count_nonzero(_np.signbit(s[1:]) != _np.signbit(s[:-1])))
                rows.append((*meta, rms, peak, zc))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=MEDIA_PROBE_SCHEMA)


AUDIO_WINDOW_SAMPLES = 32  # analysis window length, in samples
AUDIO_WINDOW_SCHEMA = (
    "doc_id long, win_idx long, start_sample long, win_samples long, "
    "rms double, peak long, zero_crossings long"
)


def audio_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    window: int = AUDIO_WINDOW_SAMPLES,
) -> DataFrame:
    """Windowed audio segmentation: decode 16-bit PCM WAV payloads and emit
    one row per fixed-length analysis window (tail partial window
    included) with REAL per-window DSP — RMS, peak, zero crossings
    (crossings are counted between neighbors INSIDE the window, so window
    counts are independent of the split). This is the row-expanding
    UDTF shape a VAD / silence-trim / segment-level quality gate uses;
    swap the stats for a model call and the plan is unchanged.
    Non-WAV or undecodable payloads contribute no rows (a probe stage
    routes media types; this operator is the audio branch)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        cols = [
            "doc_id", "win_idx", "start_sample", "win_samples",
            "rms", "peak", "zero_crossings",
        ]
        for pdf in batches:
            parts = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                try:
                    m = probe_real(bytes(payload))
                except (ValueError, TypeError):
                    continue
                if m["format"] != "wav" or m["n_samples"] == 0:
                    continue
                ch = m["channels"]
                s = _np.frombuffer(m["pcm"], dtype="<i2").astype(_np.float64)
                if ch > 1:
                    s = s.reshape(-1, ch).mean(axis=1)
                # All windows of the doc in three vectorized passes (an hour
                # of 16 kHz audio is ~1.8M windows — a Python loop per window
                # is the slow path this replaces). Tail window: zero-pad for
                # the reshape, then divide by the TRUE length for rms (zeros
                # don't change the sum of squares) and max |.| is unaffected
                # because padding can never exceed a true peak.
                n = len(s)
                n_win = -(-n // window)
                lengths = _np.full(n_win, window, dtype=_np.int64)
                lengths[-1] = n - (n_win - 1) * window
                p = _np.pad(s, (0, n_win * window - n)) if n_win * window > n else s
                m2 = p.reshape(n_win, window)
                rms = _np.sqrt((m2 * m2).sum(axis=1) / lengths)
                peak = _np.abs(m2).max(axis=1).astype(_np.int64)
                # Zero crossings between IN-WINDOW neighbours only: global
                # pair j is (s[j], s[j+1]); it stays inside its window iff
                # j % window != window-1, so a bincount over the surviving
                # crossing pairs reproduces the per-window count exactly
                # (padding never enters — pairs touching it are masked off).
                if n > 1:
                    j = _np.arange(n - 1)
                    gc = _np.signbit(s[1:]) != _np.signbit(s[:-1])
                    hit = j[gc & ((j % window) != window - 1)]
                    zc = _np.bincount(hit // window, minlength=n_win).astype(_np.int64)
                else:
                    zc = _np.zeros(n_win, dtype=_np.int64)
                parts.append(
                    pd.DataFrame(
                        {
                            "doc_id": _np.full(n_win, doc_id, dtype=_np.int64),
                            "win_idx": _np.arange(n_win, dtype=_np.int64),
                            "start_sample": _np.arange(n_win, dtype=_np.int64) * window,
                            "win_samples": lengths,
                            "rms": rms,
                            "peak": peak,
                            "zero_crossings": zc,
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)
            else:
                yield pd.DataFrame({c: [] for c in cols})

    return df.mapInPandas(run, schema=AUDIO_WINDOW_SCHEMA)


def decode_headers(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """binary column → (format, width, height) via the real stdlib header
    decoder; undecodable payloads yield NULL metadata rows (a decoder
    failure row — downstream filters on ``format IS NOT NULL``), so one bad
    object never fails a 100 TB scan."""
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                try:
                    m = decode_real(bytes(payload))
                    rows.append((doc_id, m["format"], m["width"], m["height"]))
                except (ValueError, TypeError):
                    rows.append((doc_id, None, None, None))
            yield pd.DataFrame(rows, columns=["doc_id", "format", "width", "height"])

    return df.mapInPandas(decode, schema=HEADER_META_SCHEMA)


def _pil_dims():
    """The RUNTIME-OPTIONAL pixel decoder, resolved once per worker call:
    ``payload -> (width, height)`` through PIL, or None when the worker
    has no PIL (this container), where the deterministic byte-length fake
    stands in and keeps the oracles exact. Deploy PIL uniformly across
    executors — the branch is per worker process."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def real_dims(payload: bytes):
        with Image.open(io.BytesIO(payload)) as img:
            return img.size

    return real_dims


def _src_dims(payload: bytes, real_dims) -> tuple:
    """A payload's source (width, height): PIL's decoded size, (None,
    None) when PIL cannot decode it (the failure-row convention), or the
    byte-length fake when ``real_dims`` is None."""
    if real_dims is None:
        n = len(payload)
        return n % 640, (n * 7) % 480
    try:
        return real_dims(payload)
    except Exception:
        return None, None


def _fit_box(w, h) -> tuple:
    """Keep-aspect fit of (w, h) into RESIZE_BOX: ``(out_w, out_h,
    out_bytes)`` for RGB output, all None for degenerate or unknown dims."""
    if not w or not h:
        return None, None, None
    max_w, max_h = RESIZE_BOX
    scale = min(1.0, max_w / w, max_h / h)
    out_w, out_h = int(w * scale), int(h * scale)
    return out_w, out_h, out_w * out_h * 3


def _byte_classes(payload: bytes) -> tuple:
    """(digits, upper, lower, space, other) byte counts in one C pass over
    the bytes instead of four interpreted sweeps — the per-byte cost is
    what scales with payload size at 100 TB."""
    import numpy as np

    hist = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
    d = int(hist[0x30:0x3A].sum())
    u = int(hist[0x41:0x5B].sum())
    lo = int(hist[0x61:0x7B].sum())
    sp = int(hist[0x20])
    return d, u, lo, sp, len(payload) - d - u - lo - sp


def _decode_meta(batches: Iterator[pd.DataFrame], id_col: str, bin_col: str):
    """Worker body of ``decode_binary_meta``."""
    import hashlib as _hl

    real_dims = _pil_dims()
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
            payload = bytes(payload)
            w, h = _src_dims(payload, real_dims)
            rows.append((doc_id, len(payload), _hl.md5(payload).digest()[0], w, h))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_bytes", "content_sha", "fake_width", "fake_height"]
        )


def decode_binary_meta(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """binary column → typed metadata rows via mapInPandas (Arrow batches).
    With PIL installed on the workers the ``fake_*`` dim columns carry
    real decoded dimensions (undecodable payloads → NULL dims, the
    failure-row convention of ``decode_headers``; see ``_pil_dims``); the
    column names stay stable so both branches share one schema."""
    return df.mapInPandas(
        lambda batches: _decode_meta(batches, id_col, bin_col), schema=DECODED_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# Resize / frame-sample / feature-extract: the rest of the multimodal UDF
# family. Same contract as decode: deterministic fakes behind the exact
# production UDF signature, schema, and Arrow batch shape; swap the fake
# for PIL/ffmpeg/numpy calls and the Spark plan is unchanged.
# ---------------------------------------------------------------------------

RESIZE_BOX = (320, 240)  # target bounding box, keep-aspect
RESIZED_SCHEMA = "doc_id long, src_w long, src_h long, out_w long, out_h long, out_bytes long"

FRAME_BYTES = 64  # fake "frame" length within a binary payload
FRAME_STRIDE = 4  # sample every 4th frame
FRAME_SCHEMA = "doc_id long, frame_idx long, frame_off long, frame_size long, frame_sig int"

FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, n_digit long, n_upper long, n_lower long, n_space long, n_other long"
)


def _resize(batches: Iterator[pd.DataFrame], id_col: str, bin_col: str):
    """Worker body of ``resize_binary``."""
    real_dims = _pil_dims()
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
            w, h = _src_dims(bytes(payload), real_dims)
            rows.append((doc_id, w, h, *_fit_box(w, h)))
        yield pd.DataFrame(
            rows, columns=["doc_id", "src_w", "src_h", "out_w", "out_h", "out_bytes"]
        )


def resize_binary(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Keep-aspect 'resize' into RESIZE_BOX via mapInPandas. With PIL on
    the workers the source dims come from the real decoder (and a real
    implementation would call ``img.thumbnail(RESIZE_BOX)`` on the decoded
    image — the scale math here IS that computation); without it, the
    deterministic byte-length fake. Degenerate dims (0) and decoder
    failures (NULL source dims) yield NULL output dims — downstream
    filters on ``out_w IS NOT NULL``."""
    return df.mapInPandas(lambda batches: _resize(batches, id_col, bin_col), schema=RESIZED_SCHEMA)


def mp4_frame_table(payload: bytes) -> list:
    """Pure-stdlib ISO-BMFF (ISO/IEC 14496-12 §8.7) sample-table walk:
    ``mp4_frame_table(payload) -> [(offset, size), ...]`` — every sample's
    REAL byte extent in the file, from the first trak carrying a complete
    stbl. stsz gives per-sample sizes (or one constant size), stsc maps
    chunks to samples-per-chunk runs, stco/co64 give chunk file offsets;
    a sample's offset is its chunk's offset plus the sizes of the
    preceding samples in that chunk. Frame LOCATION therefore needs no
    media decoder — pixel DECODE remains the ffmpeg/PIL seam. Raises
    ``ValueError`` on truncation or an inconsistent table (the module's
    failure-row convention)."""
    import struct

    def child(buf, i, end, btype):
        for t, b, e in _mp4_boxes(buf, i, end):
            if t == btype:
                return b, e
        return None

    def full_body(buf, b, e):  # skip a FullBox's version/flags word
        if b + 4 > e:
            raise ValueError("truncated full box")
        return b + 4, e

    moov = child(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("mp4 missing moov")
    for ttype, tbody, tend in _mp4_boxes(payload, *moov):
        if ttype != b"trak":
            continue
        stbl = None
        mdia = child(payload, tbody, tend, b"mdia")
        if mdia:
            minf = child(payload, *mdia, b"minf")
            if minf:
                stbl = child(payload, *minf, b"stbl")
        if stbl is None:
            continue
        stsz = child(payload, *stbl, b"stsz")
        stsc = child(payload, *stbl, b"stsc")
        stco = child(payload, *stbl, b"stco")
        wide = 4
        if stco is None:
            stco = child(payload, *stbl, b"co64")
            wide = 8
        if stsz is None or stsc is None or stco is None:
            continue  # not a complete table (e.g. an empty hint track)
        # Resource discipline: this walker runs over UNTRUSTED
        # web-scale payloads gated only by an ftyp magic, so every
        # declared count is validated against the byte extent that
        # must contain it BEFORE any allocation — a crafted header
        # must not be able to allocate GBs or loop unboundedly.
        b, e = full_body(payload, *stsz)
        if b + 8 > e:
            raise ValueError("truncated stsz")
        const_size, n_samples = struct.unpack(">II", payload[b : b + 8])
        # Hard cap on per-sample bookkeeping: hours of 60 fps video is
        # ~10^6 samples; 2^22 (~4.2M) is far beyond any real container
        # yet bounds the extent/size lists to tens of MB — a crafted
        # const_size=1 header could otherwise declare ~payload-length
        # samples and OOM the task through bookkeeping alone.
        if n_samples > (1 << 22):
            raise ValueError("implausible stsz sample count")
        if const_size == 0:
            if b + 8 + 4 * n_samples > e:
                raise ValueError("truncated stsz entries")
            sizes = list(
                struct.unpack(f">{n_samples}I", payload[b + 8 : b + 8 + 4 * n_samples])
            )
        else:
            # the samples must physically fit in the file: bounds the
            # list allocation by the payload the caller already holds
            if n_samples * const_size > len(payload):
                raise ValueError("stsz declares more sample bytes than the payload")
            sizes = [const_size] * n_samples
        b, e = full_body(payload, *stsc)
        if b + 4 > e:
            raise ValueError("truncated stsc")
        (n_runs,) = struct.unpack(">I", payload[b : b + 4])
        if b + 4 + 12 * n_runs > e:
            raise ValueError("truncated stsc entries")
        runs = [
            struct.unpack(">III", payload[b + 4 + 12 * r : b + 16 + 12 * r])
            for r in range(n_runs)
        ]
        if any(runs[r][0] >= runs[r + 1][0] for r in range(len(runs) - 1)):
            raise ValueError("stsc first_chunk not strictly ascending")
        b, e = full_body(payload, *stco)
        if b + 4 > e:
            raise ValueError("truncated stco")
        (n_chunks,) = struct.unpack(">I", payload[b : b + 4])
        if b + 4 + wide * n_chunks > e:
            raise ValueError("truncated stco entries")
        fmt = ">Q" if wide == 8 else ">I"
        offs = [
            struct.unpack(fmt, payload[b + 4 + wide * c : b + 4 + wide * (c + 1)])[0]
            for c in range(n_chunks)
        ]
        # One pass over chunks with a run POINTER (ascending
        # first_chunk proven above): O(n_chunks + n_runs + n_samples),
        # never the per-chunk run rescan a hostile (n_chunks × n_runs)
        # header could drive into 10^10 iterations.
        out, s, r = [], 0, -1
        for c in range(1, n_chunks + 1):
            while r + 1 < len(runs) and runs[r + 1][0] <= c:
                r += 1
            spc = runs[r][1] if r >= 0 else 0
            pos = offs[c - 1]
            for _ in range(spc):
                if s >= n_samples:
                    raise ValueError("stsc assigns more samples than stsz has")
                if pos + sizes[s] > len(payload):
                    raise ValueError("sample extends past payload")
                out.append((pos, sizes[s]))
                pos += sizes[s]
                s += 1
        if s != n_samples:
            raise ValueError("sample table inconsistent (unassigned samples)")
        return out
    raise ValueError("mp4 has no trak with a complete stbl")


def sample_frames(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Frame sampling: emit one row per FRAME_STRIDE-th frame — a
    row-EXPANDING mapInPandas (the UDTF shape; ffmpeg frame extraction
    has the same fan-out). ISO-BMFF payloads get REAL frames: the
    stsz/stsc/stco sample-table walk yields each sample's true byte
    (offset, size) — no decoder needed for frame LOCATION (pixel decode
    stays the ffmpeg/PIL seam; unparseable containers contribute no rows,
    the failure-row convention). Any other payload keeps the fixed
    FRAME_BYTES framing (the deterministic stand-in the driver oracle
    mirrors over text). Each row carries a signature byte (md5 of the
    frame bytes — the stand-in for a real thumbnail/phash)."""
    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        cols = ["doc_id", "frame_idx", "frame_off", "frame_size", "frame_sig"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                payload = bytes(payload)
                # ISO-BMFF routing needs more than the 4-byte magic: any
                # payload (text included) can contain 'ftyp' at offset 4
                # by coincidence, and sending it down the walker would
                # emit ZERO rows (failure-row convention) instead of the
                # fixed framing the oracle mirrors. Demand the leading
                # ftyp box also be PLAUSIBLE before committing to the MP4
                # path — only then does a parse failure mean a genuinely
                # malformed container. Plausible = the spec's three size
                # encodings: the common explicit size (a multiple of 4 —
                # the brand list is 4-byte entries — at least 16 and
                # within the payload), size==0 (box extends to EOF), or
                # size==1 with a sane 64-bit largesize at bytes 8..16 —
                # the walker handles all three, and text payloads cannot
                # produce the leading NUL bytes of the 0/1 forms.
                if len(payload) >= 12 and payload[4:8] == b"ftyp":
                    box_size = _struct.unpack(">I", payload[0:4])[0]
                    largesize = (
                        _struct.unpack(">Q", payload[8:16])[0]
                        if box_size == 1 and len(payload) >= 16
                        else 0
                    )
                    plausible = (
                        box_size == 0
                        # size==1: the 16-byte header (size+type+largesize)
                        # leaves no room for major_brand+minor_version below
                        # 24, and the same %4 brand-list rule applies
                        or (24 <= largesize <= len(payload) and largesize % 4 == 0)
                        or (16 <= box_size <= len(payload) and box_size % 4 == 0)
                    )
                else:
                    plausible = False
                if plausible:
                    try:
                        table = mp4_frame_table(payload)
                    except (ValueError, _struct.error):
                        # failure row convention: no rows. struct.error is
                        # belt-and-braces — the walker guards every unpack,
                        # but a malformed container must NEVER kill the task
                        continue
                    for idx in range(0, len(table), FRAME_STRIDE):
                        off, size = table[idx]
                        seg = payload[off : off + size]
                        sig = int(hashlib.md5(seg).hexdigest()[:2], 16)
                        rows.append((doc_id, idx, off, size, sig))
                    continue
                n_frames = len(payload) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_STRIDE):
                    seg = payload[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    sig = int(hashlib.md5(seg).hexdigest()[:2], 16)
                    rows.append((doc_id, idx, idx * FRAME_BYTES, len(seg), sig))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(frames, schema=FRAME_SCHEMA)


ASSET_PROFILE_SCHEMA = (
    "doc_id long, n_bytes long, content_sha int, src_w long, src_h long, "
    "out_w long, out_h long, out_bytes long, "
    "n_digit long, n_upper long, n_lower long, n_space long, n_other long"
)


def profile_assets(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Decode-meta + keep-aspect resize + byte-class features in ONE
    Arrow-batched pass — the folded form of ``decode_binary_meta`` ∘
    ``resize_binary`` ∘ ``extract_features`` (each still available as a
    standalone stage; parity of the fold is pytest-gated). At 100 TB the
    three stages read the same binary column, so one scan is a third of
    the I/O and one Python worker hop instead of three.

    Same runtime-optional pixel seam as the stages: with PIL on the
    workers ``src_w``/``src_h`` are the REAL decoded dimensions
    (undecodable → NULL dims and NULL resize outputs, the failure-row
    convention); without it, the deterministic byte-length fake keeps the
    oracle exact. ``content_sha`` and the byte-class histogram come from
    the raw payload in both branches."""

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        real_dims = _pil_dims()
        cols = [
            "doc_id", "n_bytes", "content_sha", "src_w", "src_h",
            "out_w", "out_h", "out_bytes",
            "n_digit", "n_upper", "n_lower", "n_space", "n_other",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[bin_col]):
                payload = bytes(payload)
                w, h = _src_dims(payload, real_dims)
                rows.append(
                    (
                        doc_id, len(payload), _hl.md5(payload).digest()[0], w, h,
                        *_fit_box(w, h), *_byte_classes(payload),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(profile, schema=ASSET_PROFILE_SCHEMA)


def extract_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """Byte-class histogram features — the deterministic stand-in for an
    embedding model: each payload maps to a fixed-length numeric feature
    row, the exact plumbing a real encoder (CLIP/wav2vec) batch would use
    (Arrow in, fixed-schema vector out). Feeds the similarity operators
    (plans/similarity.py) unchanged."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, len(payload), *_byte_classes(bytes(payload)))
                for doc_id, payload in zip(pdf[id_col], pdf[bin_col])
            ]
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "n_digit", "n_upper", "n_lower", "n_space", "n_other"],
            )

    return df.mapInPandas(feats, schema=FEATURES_SCHEMA)
