"""Multimodal column plumbing: image/audio/video as opaque binary.

Convention: a modality column is a ``binary`` payload plus a typed
metadata struct (``MEDIA_META_SCHEMA``).  All heavy per-item work
(decode, resize, frame-sample, feature-extract) runs as Arrow-batched
``mapInPandas`` — batches of bytes cross the JVM→Python boundary once
per Arrow batch, never per row.

Decoders: **all three modalities run REAL dependency-free kernels** —
PNG (:mod:`.png`: zlib inflate + all five scanline unfilters,
pixel-exact against Spark's independent JVM ImageIO decoder), WAV
(:mod:`.wav`: RIFF/PCM parse, byte-exact against stdlib ``wave``),
and uncompressed AVI (:mod:`.avi`: nested-RIFF walk + raw-DIB frame
extraction with real container timestamps).  On top of decode:
:func:`resize_png` (decode → downsample → re-encode),
:func:`png_histogram`, :func:`wav_features` (zero crossings),
:func:`sample_avi_frames`.  Formats without a dependency-free codec
(JPEG, compressed video, ...) have no decoder; ``fake_decode_meta`` —
a deterministic pure-bytes "decoder" (length + header peek + md5) —
covers the plumbing for them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_package_shipped


def _map_blob(df: DataFrame, id_col: str, blob_col: str, batches, schema):
    """mapInPandas over (id, blob) with the package shipped to the
    workers first: the codec closures reference module-level package
    functions (pickled by reference), so a harness-provided session
    that can't import the package would otherwise fail in the Python
    worker."""
    ensure_package_shipped(df.sparkSession)
    return df.select(id_col, blob_col).mapInPandas(batches, schema)


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

def attach_fake_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic binary fixture: utf-8 bytes of the text column —
    stands in for an image/audio payload so the binary pipeline can be
    exercised end-to-end on the documents table."""
    return df.withColumn("blob", F.encode(F.col(text_col), "utf-8")).withColumn(
        "meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col("text")).cast("long").alias("n_bytes"),
        ),
    )


FAKE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
        T.StructField("content_md5", T.StringType(), True),
    ]
)


def fake_decode_meta(df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob") -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    Deterministic fake decoder: byte length, first-4-bytes hex (the
    "magic number" a real decoder would sniff), md5 of the payload.
    Real decode drops in here by replacing the per-batch body — the
    Spark plumbing (mapInPandas over binary, explicit output schema,
    batch-at-a-time) is exactly what a PIL/ffmpeg decoder needs.
    """
    import hashlib

    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": blobs.map(len).astype("int64"),
                    "head_hex": blobs.map(lambda b: bytes(b[:4]).hex()),
                    "content_md5": blobs.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return _map_blob(df, id_col, blob_col, batches, FAKE_META_SCHEMA)


PNG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("px_md5", T.StringType(), True),
    ]
)


def attach_png_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-PNG fixture: each row gets a gray PNG whose
    shape and pixels are a closed-form function of its id —
    ``width = 4 + id % 13``, ``height = 3 + id % 7``, flat pixel
    ``i = (id*7 + i) % 256`` — encoded with scanline filter
    ``row % 5`` so every unfilter path runs.  The closed form is what
    lets a SQL oracle check the DECODED statistics without being able
    to decode PNG itself."""
    import numpy as np

    from .png import encode_png

    @F.pandas_udf(T.BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = 4 + i % 13, 3 + i % 7
            flat = (np.arange(w * h, dtype=np.int64) + i * 7) % 256
            out.append(encode_png(flat.astype(np.uint8).reshape(h, w)))
        return pd.Series(out)

    ensure_package_shipped(df.sparkSession)
    return df.withColumn("blob", synth(F.col(id_col)))


def decode_png_meta(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL image decode over a binary column, no optional deps: the
    pure-stdlib PNG codec (:mod:`.png` — zlib inflate, chunk CRCs,
    all five scanline unfilters) runs inside Arrow ``mapInPandas``
    batches and emits per-image shape + exact pixel statistics
    (``px_sum``/``n_px`` are integers, so the DuckDB gate is
    hash-exact) + an md5 of the decoded sample bytes.  Upgrades the
    ``fake_decode_meta`` stub for PNG payloads; the batch shape,
    schema contract, and partitioning are identical, so swapping in a
    codec-library decoder for other formats is a per-batch body
    change only."""
    import hashlib

    import pandas as pd

    from .png import decode_png

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            cols = {k.name: [] for k in PNG_META_SCHEMA.fields}
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                a = decode_png(bytes(b))
                h, w, c = a.shape
                cols["doc_id"].append(int(i))
                cols["width"].append(w)
                cols["height"].append(h)
                cols["channels"].append(c)
                cols["bit_depth"].append(8)
                cols["px_sum"].append(int(a.sum(dtype="int64")))
                cols["n_px"].append(h * w * c)
                cols["px_md5"].append(hashlib.md5(a.tobytes()).hexdigest())
            yield pd.DataFrame(cols)

    return _map_blob(df, id_col, blob_col, batches, PNG_META_SCHEMA)


def resize_png(
    df: DataFrame,
    factor: int = 2,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """REAL image resize over a binary column: decode the PNG,
    stride-``factor`` nearest-neighbor downsample (output dims =
    ceil(dim/factor)), re-encode — both codec directions run on the
    WORKERS inside the Arrow batches, the brief's decode→transform→
    re-encode pipeline shape.  Output: ``(id_col, blob)`` with the
    resized PNG, so it composes with :func:`decode_png_meta` (which is
    how the ``png_resize`` gate verifies the pixels end-to-end)."""
    f = int(factor)
    if f < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    from .png import decode_png, encode_png

    id_field = df.schema[id_col]
    schema = T.StructType(
        [id_field, T.StructField(blob_col, T.BinaryType(), True)]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, blobs = [], []
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                a = decode_png(bytes(b))
                ids.append(i)
                blobs.append(encode_png(a[::f, ::f, :]))
            yield pd.DataFrame({id_col: ids, blob_col: blobs})

    return _map_blob(df, id_col, blob_col, batches, schema)


def png_histogram(
    df: DataFrame,
    n_bins: int = 8,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """REAL image feature extraction: decode the PNG and emit an
    intensity histogram over ``n_bins`` equal-width bins of the 0-255
    range — one output row per (image, non-empty bin) with the exact
    integer sample count, the feature-vector shape a training
    pipeline's quality/ND filters consume.  ``n_bins`` must divide
    256 so bin = sample // (256/n_bins) is exact in both engines."""
    if 256 % int(n_bins):
        raise ValueError(f"n_bins must divide 256, got {n_bins}")
    width = 256 // int(n_bins)

    import numpy as np

    from .png import decode_png

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("bin", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, bins, counts = [], [], []
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                hist = np.bincount(
                    decode_png(bytes(b)).reshape(-1) // width,
                    minlength=256 // width,
                )
                for bin_idx in np.nonzero(hist)[0]:
                    ids.append(i)
                    bins.append(int(bin_idx))
                    counts.append(int(hist[bin_idx]))
            yield pd.DataFrame({id_col: ids, "bin": bins, "n": counts})

    return _map_blob(df, id_col, blob_col, batches, schema)


WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("amp_sum", T.LongType(), True),
        T.StructField("pcm_md5", T.StringType(), True),
    ]
)


def attach_wav_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-WAV fixture: mono 16-bit PCM at 8 kHz with
    ``n_frames = 64 + id % 129`` and sample ``i = ((id*31 + i*17) %
    65536) - 32768`` — closed-form so a SQL oracle can check the
    DECODED sample statistics without parsing RIFF itself."""
    import numpy as np

    from .wav import encode_wav

    @F.pandas_udf(T.BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            n = 64 + i % 129
            s = ((np.arange(n, dtype=np.int64) * 17 + i * 31) % 65536) - 32768
            out.append(encode_wav(s.astype(np.int16), 8000, 16))
        return pd.Series(out)

    ensure_package_shipped(df.sparkSession)
    return df.withColumn("blob", synth(F.col(id_col)))


def decode_wav_meta(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL audio decode over a binary column, no optional deps: the
    pure-stdlib RIFF/PCM parser (:mod:`.wav` — chunk walk, fmt
    contract validation, PCM extraction; byte-exact against Python's
    independent stdlib ``wave`` implementation) runs inside Arrow
    ``mapInPandas`` batches and emits per-clip shape + exact integer
    sample statistics + an md5 of the PCM bytes.  The audio analogue
    of :func:`decode_png_meta`."""
    import hashlib

    from .wav import decode_wav

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            cols = {k.name: [] for k in WAV_META_SCHEMA.fields}
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                sr, bits, s = decode_wav(bytes(b))
                n, ch = s.shape
                cols["doc_id"].append(int(i))
                cols["sample_rate"].append(sr)
                cols["channels"].append(ch)
                cols["bits"].append(bits)
                cols["n_frames"].append(n)
                cols["duration_ms"].append(n * 1000 // sr)
                cols["amp_sum"].append(int(s.sum(dtype="int64")))
                cols["pcm_md5"].append(hashlib.md5(s.tobytes()).hexdigest())
            yield pd.DataFrame(cols)

    return _map_blob(df, id_col, blob_col, batches, WAV_META_SCHEMA)


def wav_features(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """REAL audio feature extraction over decoded PCM (mono): frame
    count, amplitude extremes, and the zero-crossing count (strict
    sign change: ``s[i]·s[i+1] < 0``) — all exact integers, so the
    DuckDB gate hash-matches.  Zero-crossing rate is the classic
    cheap voice-activity / noise feature a speech-corpus pipeline
    filters on."""
    import numpy as np

    from .wav import decode_wav

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("amp_min", T.LongType(), False),
            T.StructField("amp_max", T.LongType(), False),
            T.StructField("zero_crossings", T.LongType(), False),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            cols = {k.name: [] for k in schema.fields}
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                _sr, _bits, s = decode_wav(bytes(b))
                if s.shape[1] != 1:
                    raise ValueError(
                        f"wav_features expects mono, got {s.shape[1]} channels"
                    )
                v = s[:, 0].astype(np.int64)
                cols[id_col].append(i)
                cols["n_frames"].append(len(v))
                cols["amp_min"].append(int(v.min()))
                cols["amp_max"].append(int(v.max()))
                cols["zero_crossings"].append(int(np.sum(v[:-1] * v[1:] < 0)))
            yield pd.DataFrame(cols)

    return _map_blob(df, id_col, blob_col, batches, schema)


def attach_avi_blob(
    df: DataFrame, id_col: str = "doc_id", compression: str | None = None
) -> DataFrame:
    """Deterministic REAL-AVI fixture: each row gets a BGR24 AVI at
    25 fps with ``n_frames = 3 + id % 7``, frame size
    ``(2 + id % 3) × (4 + id % 5)`` (width 5 exercises DIB row
    padding), and flat BGR value ``i`` of frame ``f`` equal to
    ``(id*13 + f*101 + i) % 256`` — closed-form so the SQL oracle can
    check DECODED per-frame statistics without parsing RIFF.
    ``compression="zlib"`` emits the zlib-deflated ``00dc`` stream
    variant (same decoded pixels, so the same oracle applies)."""
    import numpy as np

    from .avi import encode_avi

    @F.pandas_udf(T.BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            n, w, h = 3 + i % 7, 4 + i % 5, 2 + i % 3
            frames = [
                (
                    ((np.arange(h * w * 3, dtype=np.int64) + i * 13 + f * 101) % 256)
                    .astype(np.uint8)
                    .reshape(h, w, 3)
                )
                for f in range(n)
            ]
            out.append(encode_avi(frames, fps=25, compression=compression))
        return pd.Series(out)

    ensure_package_shipped(df.sparkSession)
    return df.withColumn("blob", synth(F.col(id_col)))


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("px_sum", T.LongType(), False),
    ]
)


def sample_avi_frames(
    df: DataFrame,
    every_ms: int = 80,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """REAL video frame sampling: parse the AVI container
    (:mod:`.avi` — nested RIFF walk, header validation, raw-DIB frame
    extraction with bottom-up flip and row-padding removal), timestamp
    each frame from the container's ``us_per_frame``, keep frames
    whose timestamp lands on an ``every_ms`` boundary, and emit their
    decoded shape + exact pixel sum.  Upgrades the fake
    ``frame_sample`` (duration proxied by payload length) to actual
    container timing and actual pixels; the 1→N Arrow row-explosion
    shape is the same."""
    import numpy as np

    from .avi import decode_avi

    ms = int(every_ms)
    if ms < 1:
        raise ValueError(f"every_ms must be >= 1, got {every_ms}")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            cols = {k.name: [] for k in AVI_FRAME_SCHEMA.fields}
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                us_per_frame, frames = decode_avi(bytes(b))
                for f, arr in enumerate(frames):
                    ts = f * us_per_frame // 1000
                    if ts % ms:
                        continue
                    cols["doc_id"].append(int(i))
                    cols["frame_idx"].append(f)
                    cols["frame_ts_ms"].append(ts)
                    cols["height"].append(arr.shape[0])
                    cols["width"].append(arr.shape[1])
                    cols["px_sum"].append(int(arr.sum(dtype="int64")))
            yield pd.DataFrame(cols)

    return _map_blob(df, id_col, blob_col, batches, AVI_FRAME_SCHEMA)


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Video frame sampling STUB: deterministic fake — emits one row
    per simulated frame (duration proxied by payload length) so the
    1→N row-explosion shape (mapInPandas yielding more rows than it
    consumed) is real and tested."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("frame_ts_ms", T.LongType(), True),
        ]
    )
    bytes_per_ms = 10  # fake: 10 bytes of payload ≈ 1ms of media

    def batches(it):
        for pdf in it:
            ids, idxs, tss = [], [], []
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                dur = max(len(b) // bytes_per_ms, 1)
                for j, ts in enumerate(range(0, dur, every_ms)):
                    ids.append(i)
                    idxs.append(j)
                    tss.append(ts)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_ts_ms": tss}
            )

    return _map_blob(df, id_col, blob_col, batches, schema)
