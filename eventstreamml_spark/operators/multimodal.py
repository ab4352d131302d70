"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side contract is real and tested — schemas, partition-sized
batch iteration via ``mapInPandas``, deterministic metadata extraction.
Decode is layered by what the executor can import: audio parses real
RIFF/WAVE with the stdlib ``wave`` module (always available); image
decode/resize use Pillow opportunistically when importable and raise
``NotImplementedError`` otherwise; video decode stays environment-gated.
Every stage also has a deterministic ``fake=True`` decode so the
distributed plumbing is exercisable end-to-end in any environment.

Design notes for 100 TB of media:
- binary payloads ride in parquet as-is; metadata (format, width,
  height, duration) lives in sibling columns so *planning* predicates
  (e.g. resolution filters) push down without touching bytes;
- decode/resize/frame-sample are ``mapInPandas`` stages — one Arrow
  batch in, one out, no per-row Python dispatch;
- batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — lower it for large payloads so a batch fits in executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),      # png|jpeg|wav|...
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, n_bytes long, sha256 string, width int, height int, "
    "mean_luma double"
)


def binary_metadata(df: DataFrame) -> DataFrame:
    """Cheap metadata over binary payloads — pure JVM expressions
    (no decode): byte length + content digest."""
    p = F.col("payload")
    return df.select(
        F.col("media_id"),
        F.length(p).alias("n_bytes"),
        F.sha2(p, 256).alias("sha256"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake decode: derives (width, height, mean_luma)
    from payload bytes — stable across runs/executors, so tests can
    assert exact values."""
    if payload is None or len(payload) == 0:
        return 0, 0, 0.0
    w = 1 + payload[0] % 64
    h = 1 + payload[-1] % 64
    luma = (sum(payload[:256]) % 2551) / 10.0
    return w, h, luma


def _pil():
    """Opportunistic codec: return the PIL.Image module when Pillow is
    importable (checked on the executor, where the decode runs), else
    None. The engine works without it — callers fall back to the
    deterministic fake or raise."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def extract_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + feature-extract stage over MEDIA_SCHEMA rows via
    ``mapInPandas`` (Arrow batches). With ``fake=True`` a deterministic
    payload-derived fake decode runs (always available, used by tests);
    with ``fake=False`` the real decode runs via Pillow when it is
    importable on the executor, and raises ``NotImplementedError``
    otherwise — the Spark plumbing (schema, batching, partitioning) is
    identical either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io

        image_mod = None if fake else _pil()
        for pdf in batches:
            if not fake and image_mod is None:
                raise NotImplementedError(
                    "media decode requires Pillow, which is not importable on "
                    "this executor; pass fake=True for the deterministic stub"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if fake:
                    w, h, luma = _fake_decode(raw)
                else:
                    with image_mod.open(io.BytesIO(raw)) as im:
                        w, h = im.size
                        gray = im.convert("L")
                        hist = gray.histogram()
                        npx = max(1, w * h)
                        luma = sum(i * c for i, c in enumerate(hist)) / npx
                rows.append(
                    (
                        int(mid),
                        len(raw),
                        hashlib.sha256(raw).hexdigest(),
                        w,
                        h,
                        luma,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "sha256", "width", "height", "mean_luma"],
            )

    return df.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int, fake: bool = False) -> DataFrame:
    """Resize stage: same mapInPandas shape, payload→payload. Fake mode
    truncates/pads the payload to w*h bytes as a stand-in for a real
    resample; with Pillow importable on the executor, ``fake=False``
    decodes, bilinear-resamples, and re-encodes as PNG."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        image_mod = None if fake else _pil()

        def real_resize(p):
            if p is None:
                return None
            with image_mod.open(io.BytesIO(bytes(p))) as im:
                out = io.BytesIO()
                im.resize((width, height)).save(out, format="PNG")
                return out.getvalue()

        for pdf in batches:
            if not fake and image_mod is None:
                raise NotImplementedError(
                    "image resize requires Pillow, which is not importable on "
                    "this executor; pass fake=True for the byte-level stub"
                )
            target = width * height
            pdf = pdf.copy()
            if fake:
                pdf["payload"] = pdf["payload"].map(
                    lambda p: (bytes(p)[:target]).ljust(target, b"\0") if p is not None else None
                )
            else:
                pdf["payload"] = pdf["payload"].map(real_resize)
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def sample_video_frames(
    df: DataFrame, every_n: int = 30, fake: bool = False
) -> DataFrame:
    """Frame-sampling stage: one input row → many frame rows
    (media_id, frame_no, payload).

    The real path decodes multi-frame containers Pillow can seek
    (animated GIF, multi-page TIFF, animated PNG/WebP where the build
    supports them), keeping every ``every_n``-th frame and re-encoding
    each kept frame as PNG. True video codecs (mp4/h264) need libraries
    this container stack does not ship, so payloads Pillow cannot open
    raise ``NotImplementedError`` — an honest gate, not a silent skip.
    Fake mode emits payload byte-slices as stand-in frames."""
    out_schema = "media_id long, frame_no int, payload binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        image_mod = None if fake else _pil()

        def real_frames(mid: int, raw: bytes) -> list[tuple[int, int, bytes]]:
            try:
                im = image_mod.open(io.BytesIO(raw))
            except Exception as exc:
                raise NotImplementedError(
                    "payload is not a Pillow-decodable multi-frame container "
                    "(GIF/TIFF/...); true video codecs are not available here"
                ) from exc
            rows = []
            with im:
                n = getattr(im, "n_frames", 1)
                step = max(every_n, 1)
                for out_no, frame_no in enumerate(range(0, n, step)):
                    im.seek(frame_no)
                    buf = io.BytesIO()
                    im.convert("RGB").save(buf, format="PNG")
                    rows.append((mid, out_no, buf.getvalue()))
            return rows

        for pdf in batches:
            if not fake and image_mod is None:
                raise NotImplementedError(
                    "video frame sampling requires Pillow, which is not "
                    "importable on this executor; pass fake=True for the stub"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if fake:
                    n_frames = max(len(raw) // max(every_n, 1), 0)
                    for i in range(n_frames):
                        rows.append((int(mid), i, raw[i * every_n : (i + 1) * every_n]))
                else:
                    rows.extend(real_frames(int(mid), raw))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "payload"])

    return df.mapInPandas(run, schema=out_schema)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_bytes long, n_channels int, sample_rate int, "
    "n_frames long, duration_s double, rms double"
)


def extract_audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Audio decode + feature stage, same mapInPandas shape as the image
    path. The real path parses RIFF/WAVE containers with the stdlib
    ``wave`` module (no third-party codec needed): channel count,
    sample rate, frame count, duration, and RMS amplitude over the
    first second of 16-bit PCM. ``fake=True`` derives deterministic
    pseudo-features from payload bytes (any format, used by tests and
    environments where payloads are not real WAV)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        def real(raw: bytes):
            with wave.open(io.BytesIO(raw)) as w:
                nch, width, rate, nframes = (
                    w.getnchannels(),
                    w.getsampwidth(),
                    w.getframerate(),
                    w.getnframes(),
                )
                dur = nframes / rate if rate else 0.0
                rms = None
                if width == 2:  # 16-bit PCM
                    head = w.readframes(min(nframes, rate))
                    n = len(head) // 2
                    if n:
                        vals = struct.unpack(f"<{n}h", head[: 2 * n])
                        rms = (sum(v * v for v in vals) / n) ** 0.5
                return nch, rate, nframes, dur, rms

        def fk(raw: bytes):
            rate = 8000 + (raw[0] % 5) * 8000 if raw else 8000
            nch = 1 + (raw[-1] % 2) if raw else 1
            nframes = len(raw) * 4
            return nch, rate, nframes, nframes / rate, float(sum(raw[:64]) % 1000)

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                nch, rate, nframes, dur, rms = fk(raw) if fake else real(raw)
                rows.append((int(mid), len(raw), nch, rate, nframes, dur, rms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "n_channels",
                    "sample_rate",
                    "n_frames",
                    "duration_s",
                    "rms",
                ],
            )

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


AHASH_SCHEMA = "media_id long, ahash_lo long, ahash_hi long, n_set int"


def image_ahash(df: DataFrame, fake: bool = False) -> DataFrame:
    """Perceptual average-hash (aHash) per image: downsample to an 8×8
    luminance grid, threshold each cell by the grid mean — a 64-bit
    signature whose Hamming distance survives resizing/re-encoding,
    feeding the SAME bounded Hamming-pair join as SimHash
    (operators/dedup.simhash_near_pairs) for image near-dup mining.

    Emitted as two 32-bit halves (lo = bits 0-31, hi = 32-63) so no
    engine's signed 64-bit arithmetic overflows. Fake mode derives the
    grid cyclically from payload bytes (grid[i] = byte[i mod n] —
    SQL-replayable); the real path resizes via Pillow when importable
    on the executor and raises otherwise. Same Arrow-batched
    mapInPandas shape as the other media stages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        image_mod = None if fake else _pil()
        for pdf in batches:
            if not fake and image_mod is None:
                raise NotImplementedError(
                    "image aHash requires Pillow for the real decode; pass "
                    "fake=True for the deterministic stub"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if fake:
                    if raw:
                        grid = [raw[i % len(raw)] for i in range(64)]
                    else:
                        grid = [0] * 64
                else:
                    with image_mod.open(io.BytesIO(raw)) as im:
                        small = im.convert("L").resize((8, 8))
                        grid = list(small.getdata())
                mean = sum(grid) / 64.0
                bits = [1 if g >= mean else 0 for g in grid]
                lo = sum(b << i for i, b in enumerate(bits[:32]))
                hi = sum(b << i for i, b in enumerate(bits[32:]))
                rows.append((int(mid), lo, hi, sum(bits)))
            yield pd.DataFrame(
                rows, columns=["media_id", "ahash_lo", "ahash_hi", "n_set"]
            )

    return df.mapInPandas(run, schema=AHASH_SCHEMA)


def dct_weights_q10() -> list[tuple[int, int, int]]:
    """Integer Q10 (×1024, round-to-nearest) 1-D DCT-II basis weights
    w[u][i] = round(cos((2i+1)·u·π/16) · 1024) for u < 4, i < 8 —
    shared VERBATIM by the Spark operator and the DuckDB oracle so the
    2-D coefficient Σ pixel·w[u][i]·w[v][j] is exact INTEGER
    arithmetic on both engines (no libm cos at query time; the cosine
    runs once here, in Python, to mint the literals)."""
    import math

    return [
        (u, i, int(round(math.cos((2 * i + 1) * u * math.pi / 16) * 1024)))
        for u in range(4)
        for i in range(8)
    ]


def image_phash_dct(
    media: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual DCT hash (pHash) plumbing over deterministic fake
    grayscale tiles: per asset, an 8×8 pixel grid derives
    from md5 bytes (the honest stand-in while real decode is
    PIL-gated), the top 4×4 2-D DCT coefficients are
    computed as exact integer sums against the Q10 basis literals, and
    the hash packs the sign bits of the AC coefficients.

    Distributed shape: ZERO shuffles — pixels, coefficients, and bit
    packing are three chained per-row projections. The coefficient
    stage is generated SQL text — 15 loop-sized integer folds over a
    single pixel-array column, plus the DC term from the pixel sum
    (the inline 16x64 term form blew janino's 64KB method limit and
    ran interpreted; the join-fan-out
    alternative shuffles 8²·4² rows per asset through a
    group-by, measured 6.1s at sf0.1). Building the tree through the
    Python Column API would cost a py4j round trip per node (the
    pq_encode SQL-text lesson). All arithmetic is integer, so the hash is
    engine- and partitioning-exact by construction. At real-decode
    scale the pixel projection is replaced by the Arrow-batched
    decoder; everything downstream is unchanged."""
    w = {(u, i): wt for u, i, wt in dct_weights_q10()}
    # pixels land in ONE array column and each coefficient is a
    # loop-sized integer fold against a literal weight array: the
    # earlier 16x64 inline term projection blew janino's 64KB method
    # limit and silently ran interpreted (the kmeans_elbow lesson);
    # integer sums are order-free, so the fold is value-identical.
    px_cells = [
        f"CAST(conv(substring(md5(concat(CAST(`{id_col}` AS STRING),"
        f" '-{i}-{j}')), 1, 2), 16, 10) AS BIGINT) % 256"
        for i in range(8)
        for j in range(8)
    ]
    # The pixel sum _s gives every pixel a second use in the same
    # projection, so whole-stage codegen computes each one once in its
    # own subexpression method; the array alone inlined all 64 md5
    # pipelines into one 17,800-byte method, over the JIT limit. _s is
    # also the DC coefficient: the u = 0 basis row is a constant
    # (cos 0), so c_0_0 = w00² · Σ pixels.
    px_exprs = [
        f"`{id_col}`",
        f"array({', '.join(px_cells)}) AS _px",
        f"{' + '.join(px_cells)} AS _s",
    ]
    coeff_exprs = [f"`{id_col}`", f"_s * {w[(0, 0)] ** 2} AS _c_0_0"] + [
        (
            "aggregate(zip_with(_px, array({}), (x, y) -> x * y),"
            " cast(0 as bigint), (a, z) -> a + z) AS _c_{}_{}".format(
                ", ".join(
                    f"{w[(u, i)] * w[(v, j)]}L"
                    for i in range(8)
                    for j in range(8)
                ),
                u,
                v,
            )
        )
        for u in range(4)
        for v in range(4)
        if (u, v) != (0, 0)
    ]
    ac_bits = " + ".join(
        f"(CASE WHEN _c_{u}_{v} > 0 THEN CAST({1 << (u * 4 + v - 1)}"
        f" AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for u in range(4)
        for v in range(4)
        if (u, v) != (0, 0)
    )
    n_pos = " + ".join(
        f"(CASE WHEN _c_{u}_{v} > 0 THEN 1 ELSE 0 END)"
        for u in range(4)
        for v in range(4)
        if (u, v) != (0, 0)
    )
    return (
        media.selectExpr(*px_exprs)
        .selectExpr(*coeff_exprs)
        .selectExpr(
            f"`{id_col}`",
            "CAST(_c_0_0 AS BIGINT) AS dc",
            f"CAST({ac_bits} AS BIGINT) AS phash",
            f"CAST({n_pos} AS BIGINT) AS n_pos_bits",
        )
    )


DHASH_SCHEMA = "media_id long, dhash_lo long, dhash_hi long, n_set int"


def image_dhash(df: DataFrame, fake: bool = False) -> DataFrame:
    """Perceptual difference-hash (dHash) per image: downsample to a
    9x8 luminance grid and emit one bit per horizontal gradient
    (cell > right neighbour) — 64 bits that survive brightness and
    contrast shifts better than aHash's mean threshold, completing the
    classic aHash/pHash/dHash trio over the same bounded Hamming-pair
    join. Two 32-bit halves like the siblings.

    Fake mode derives the 72-cell grid cyclically from payload bytes
    (grid[i] = byte[i mod n], row-major 8 rows x 9 cols —
    SQL-replayable); the real path resizes to (9, 8) via Pillow when
    importable and raises otherwise. Same Arrow-batched mapInPandas
    shape as the other media stages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        image_mod = None if fake else _pil()
        for pdf in batches:
            if not fake and image_mod is None:
                raise NotImplementedError(
                    "image dHash requires Pillow for the real decode; pass "
                    "fake=True for the deterministic stub"
                )
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if fake:
                    if raw:
                        grid = [raw[i % len(raw)] for i in range(72)]
                    else:
                        grid = [0] * 72
                else:
                    with image_mod.open(io.BytesIO(raw)) as im:
                        small = im.convert("L").resize((9, 8))
                        grid = list(small.getdata())
                bits = [
                    1 if grid[r * 9 + c] > grid[r * 9 + c + 1] else 0
                    for r in range(8)
                    for c in range(8)
                ]
                lo = sum(b << i for i, b in enumerate(bits[:32]))
                hi = sum(b << i for i, b in enumerate(bits[32:]))
                rows.append((int(mid), lo, hi, sum(bits)))
            yield pd.DataFrame(
                rows, columns=["media_id", "dhash_lo", "dhash_hi", "n_set"]
            )

    return df.mapInPandas(run, schema=DHASH_SCHEMA)
