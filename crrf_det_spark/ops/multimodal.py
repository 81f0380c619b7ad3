"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; the
decode / feature-extract / resize / frame-sample kernels run as Arrow-batched
mapInPandas stages.  Uncompressed netpbm payloads (PGM ``P5`` gray, PPM
``P6`` rgb) are decoded for REAL in pure numpy -- no external library.
Compressed formats (jpeg/png/... images, non-PCM audio) use OPTIONAL codec
libraries: when Pillow / soundfile are importable (any normal cluster),
``decode_image`` / ``decode_audio`` decode them for real; without them
those formats raise NotImplementedError.  Both branches are tested (the
codec branch via an injected stand-in module).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._kernel import spread

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),      # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, out_width int, out_height int"


def _parse_pnm(payload: bytes) -> np.ndarray:
    """Pure-numpy netpbm decode: P5 (8/16-bit gray) and P6 (8/16-bit rgb),
    with comment handling per the spec.  Returns uint8 grayscale (rgb is
    reduced by channel mean)."""
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(payload):
            c = payload[pos]
            if c in b" \t\r\n":
                pos += 1
            elif c == ord("#"):
                while pos < len(payload) and payload[pos] != ord("\n"):
                    pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and payload[pos] not in b" \t\r\n":
            pos += 1
        return payload[start:pos]

    try:
        magic = token()
        w, h, maxval = int(token()), int(token()), int(token())
        pos += 1  # exactly one whitespace byte after maxval, then raster
        channels = 3 if magic == b"P6" else 1
        dtype = np.dtype(">u2") if maxval > 255 else np.uint8
        n = w * h * channels
        raster = np.frombuffer(payload, dtype=dtype, count=n, offset=pos)
        img = raster.reshape(h, w, channels).astype(np.float64)
    except (ValueError, TypeError) as e:
        # a single corrupt payload must fail with the documented error
        # shape (callers skip it), not kill the whole Spark task with a
        # bare int()/frombuffer exception
        raise ValueError(f"malformed netpbm payload: {e}") from e
    if maxval != 255:
        img = img * (255.0 / maxval)
    return img.mean(axis=2).astype(np.uint8)


def _pillow_decode(payload: bytes) -> np.ndarray | None:
    """Optional-dependency image decode: returns a uint8 grayscale array
    via Pillow when it is importable, None when it is not (this
    container).  A Pillow decode FAILURE (corrupt/unknown payload) maps
    to the same ``ValueError`` contract as malformed netpbm, so batch
    callers skip the row either way."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(payload or b"")) as im:
            return np.asarray(im.convert("L"), dtype=np.uint8)
    except Exception as e:  # Pillow raises codec-specific types
        raise ValueError(f"malformed image payload: {e}") from e


def decode_image(payload: bytes) -> np.ndarray:
    """binary payload -> uint8 grayscale array.

    Netpbm (P5/P6) payloads decode for real in pure numpy; other formats
    decode through Pillow WHEN IT IS IMPORTABLE (any normal cluster).
    Without Pillow, non-netpbm formats raise NotImplementedError.  A
    payload that looks decodable but is truncated/corrupt raises
    ``ValueError('malformed ... payload: ...')`` -- batch callers
    (extract_features) catch it and skip the row."""
    if payload and payload[:2] in (b"P5", b"P6"):
        return _parse_pnm(payload)
    img = _pillow_decode(payload)
    if img is not None:
        return img
    raise NotImplementedError(
        "real decode implemented for netpbm P5/P6 only; other formats "
        "require Pillow, which is not importable here"
    )


def _soundfile_decode(payload: bytes) -> tuple[np.ndarray, int] | None:
    """Optional-dependency audio decode via soundfile (flac/ogg/...);
    None when the library is not importable (this container)."""
    try:
        import soundfile as sf
    except ImportError:
        return None
    import io

    x, rate = sf.read(io.BytesIO(payload), dtype="float32", always_2d=True)
    return x.mean(axis=1).astype(np.float32), int(rate)


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Audio payload -> (mono float32 samples in [-1, 1], sample_rate).

    PCM WAV decodes for real in pure numpy (8/16/32-bit integer PCM
    format 1 and 32-bit float PCM format 3, multi-channel reduced by
    mean).  Other containers/codecs decode through soundfile WHEN IT IS
    IMPORTABLE; without it they raise NotImplementedError."""
    try:
        return _decode_wav_pcm(payload)
    except NotImplementedError:
        got = _soundfile_decode(payload)
        if got is not None:
            return got
        raise


def _decode_wav_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos: pos + 4]
        size = int.from_bytes(payload[pos + 4: pos + 8], "little")
        body = payload[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 1 and bits == 8:
        x = np.frombuffer(data, dtype=np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif audio_format == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif audio_format == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float32)
    else:
        raise NotImplementedError(
            f"WAV format {audio_format}/{bits}-bit needs a codec library"
        )
    if n_channels > 1:
        x = x[: len(x) - len(x) % n_channels]
        x = x.reshape(-1, n_channels).mean(axis=1)
    return x, sample_rate


def audio_features(media: DataFrame, n_bands: int = 16) -> DataFrame:
    """audio rows -> (media_id, sample_rate, n_samples, rms, feature) where
    feature is the per-band RMS envelope over n_bands equal time slices --
    a real vectorized kernel over really-decoded WAV payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": [], "sample_rate": [], "n_samples": [],
                "rms": [], "feature": [],
            }
            for mid, kind, payload in zip(
                pdf["media_id"].values, pdf["kind"].values,
                pdf["payload"].values,
            ):
                if kind != "audio" or payload is None:
                    continue
                x, rate = decode_audio(bytes(payload))
                edges = (np.arange(n_bands + 1) * len(x) // n_bands).astype(
                    int
                )
                bands = [
                    float(np.sqrt(np.mean(np.square(
                        x[edges[i]: max(edges[i + 1], edges[i] + 1)]
                    )))) if len(x) else 0.0
                    for i in range(n_bands)
                ]
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(x))
                out["rms"].append(
                    float(np.sqrt(np.mean(np.square(x)))) if len(x) else 0.0
                )
                out["feature"].append(bands)
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "sample_rate", "n_samples", "rms", "feature",
                ],
            )

    return spread(media.select("media_id", "kind", "payload")).mapInPandas(
        batches,
        schema=(
            "media_id long, sample_rate int, n_samples long, rms double, "
            "feature array<double>"
        ),
    )


def kmeans_binarize(
    image: np.ndarray, n_clusters: int = 3, max_iter: int = 64
) -> tuple[np.ndarray, int]:
    """Adaptive KMeans binarization (P4; reference ``kmean_binarize``,
    pseg.py:114-146): cluster the grayscale levels, take the DOMINANT
    cluster as background, and threshold one level inside it so the
    dominant mode lands entirely on one side.  Works for black-on-white
    and white-on-black alike.  Returns (binarized 0/255 uint8, threshold).

    Scale-first deviation from the reference: the fit runs 1-D Lloyd's
    over the 256-bin level HISTOGRAM (deterministic quantile init), not
    sklearn KMeans over every pixel -- O(max_iter * 256) per image
    regardless of pixel count, no sklearn dependency, fully
    deterministic.  The decision arithmetic afterwards is the
    reference's exactly: dominant cluster by pixel count (first-largest
    wins), threshold_color = the first flattened pixel of that cluster,
    nudged -1 if >= 127 else +1, then ``image >= thr -> 255 else 0``.
    """
    flat = np.ascontiguousarray(image, dtype=np.uint8).ravel()
    if flat.size == 0:
        return image.astype(np.uint8), 0
    counts = np.bincount(flat, minlength=256)
    levels = np.nonzero(counts)[0]
    if len(levels) <= n_clusters:
        # every distinct level is its own cluster
        labels_by_level = np.zeros(256, dtype=np.int64)
        labels_by_level[levels] = np.arange(len(levels))
    else:
        # deterministic init: centroids at the occupied-level quantiles
        w = counts[levels].astype(np.float64)
        q = (np.arange(n_clusters) + 0.5) / n_clusters
        cum = np.cumsum(w) / w.sum()
        centroids = levels[np.searchsorted(cum, q)].astype(np.float64)
        lv = levels.astype(np.float64)
        assign = np.zeros(len(levels), dtype=np.int64)
        for _ in range(max_iter):
            new_assign = np.argmin(
                np.abs(lv[None, :] - centroids[:, None]), axis=0
            )
            if np.array_equal(new_assign, assign) and _ > 0:
                break
            assign = new_assign
            for k in range(n_clusters):
                sel = assign == k
                if sel.any():
                    centroids[k] = np.average(lv[sel], weights=w[sel])
        labels_by_level = np.zeros(256, dtype=np.int64)
        labels_by_level[levels] = assign
    # dominant cluster by total pixel count, first-largest wins (the
    # reference's strict-> loop; it hardcodes range(3) -- generalized to
    # n_clusters here)
    cluster_counts = np.bincount(
        labels_by_level[levels], weights=counts[levels], minlength=n_clusters
    )
    dominant = int(np.argmax(cluster_counts))
    # first flattened pixel belonging to the dominant cluster
    member = labels_by_level[flat] == dominant
    thr = int(flat[int(np.argmax(member))])
    thr = thr - 1 if thr >= 127 else thr + 1
    out = np.where(image.astype(np.uint8) >= thr, 255, 0).astype(np.uint8)
    return out, thr


def binarize_images(media: DataFrame, n_clusters: int = 3) -> DataFrame:
    """image rows -> (media_id, threshold, ink_ratio, width, height):
    decode, adaptive-KMeans binarize (P4), report the threshold picked
    and the fraction of ink (0) pixels.  Malformed payloads are skipped,
    never fatal."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": [], "threshold": [], "ink_ratio": [],
                "width": [], "height": [],
            }
            for mid, kind, payload in zip(
                pdf["media_id"].values, pdf["kind"].values,
                pdf["payload"].values,
            ):
                if kind != "image" or payload is None:
                    continue
                try:
                    img = decode_image(bytes(payload))
                except ValueError:
                    continue
                binimg, thr = kmeans_binarize(img, n_clusters=n_clusters)
                out["media_id"].append(mid)
                out["threshold"].append(thr)
                out["ink_ratio"].append(
                    float((binimg == 0).mean()) if binimg.size else 0.0
                )
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
            yield pd.DataFrame(
                out,
                columns=["media_id", "threshold", "ink_ratio",
                         "width", "height"],
            )

    return spread(media.select("media_id", "kind", "payload")).mapInPandas(
        batches,
        schema=(
            "media_id long, threshold int, ink_ratio double, "
            "width int, height int"
        ),
    )


def extract_features(
    media: DataFrame,
    resize_to: tuple[int, int] = (8, 8),
) -> DataFrame:
    """media table -> (media_id, kind, feature: array<float>, out dims).

    The kernel decodes image rows, resizes by block-mean (real numpy), and
    emits a flattened normalized feature vector.  Non-image rows are
    skipped, and so are rows whose payload fails decode (malformed netpbm
    -> ValueError) -- one corrupt blob in a 100TB corpus must never kill a
    task.
    """
    tw, th = resize_to

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, keep = [], []
            for k, (kind, payload) in enumerate(
                zip(pdf["kind"].values, pdf["payload"].values)
            ):
                if kind != "image" or payload is None:
                    continue
                try:
                    img = decode_image(bytes(payload))
                except ValueError:
                    continue  # malformed payload: skip the row
                # block-mean resize to (th, tw) -- real vectorized kernel
                h, w = img.shape
                ys = (np.arange(th + 1) * h // th).astype(int)
                xs = (np.arange(tw + 1) * w // tw).astype(int)
                out = np.zeros((th, tw), dtype="float32")
                for i in range(th):
                    for j in range(tw):
                        block = img[ys[i]: max(ys[i + 1], ys[i] + 1),
                                    xs[j]: max(xs[j + 1], xs[j] + 1)]
                        out[i, j] = block.mean()
                feats.append((out.ravel() / 255.0).astype("float32").tolist())
                keep.append(k)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values[keep],
                    "kind": pdf["kind"].values[keep],
                    # object dtype: an all-skipped batch yields an empty
                    # list, which pandas would type as float64
                    "feature": pd.Series(feats, dtype=object),
                    "out_width": tw,
                    "out_height": th,
                }
            )

    return spread(media.select("media_id", "kind", "payload")).mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


def area_resize(img: np.ndarray, to: tuple[int, int]) -> np.ndarray:
    """Area-average (block-mean) resize of a 2-D grayscale array to
    ``to = (width, height)``, fully vectorized (two ``np.add.reduceat``
    passes -- no per-block Python loop).  Downscale blocks are the same
    floor-boundary partitions ``extract_features`` uses; upscale repeats
    source rows/columns (a repeated reduceat index yields the single
    row/col, the block-semantics guard).  Returns float64 block means;
    callers quantize."""
    tw, th = to
    h, w = img.shape
    ys = (np.arange(th + 1, dtype=np.int64) * h // th)
    xs = (np.arange(tw + 1, dtype=np.int64) * w // tw)
    a = img.astype(np.float64)
    sums = np.add.reduceat(np.add.reduceat(a, ys[:-1], axis=0), xs[:-1], axis=1)
    rcnt = np.maximum(np.diff(ys), 1)
    ccnt = np.maximum(np.diff(xs), 1)
    return sums / (rcnt[:, None] * ccnt[None, :])


def encode_pgm(img: np.ndarray) -> bytes:
    """uint8 grayscale array -> binary PGM (P5) payload, the inverse of
    the pure-numpy ``_parse_pnm`` decode (round-trip exact)."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def resize_images(
    media: DataFrame, to: tuple[int, int] = (200, 200)
) -> DataFrame:
    """image rows -> (media_id, payload, width, height, mean_level):
    decode, area-average resize to ``to=(width, height)``, re-encode as a
    real PGM payload (the reference renders fixed-size preview/thumbnail/
    tagging rasters the same way -- docmt -P 750/200/1200,
    /root/reference/src/task/file.py:23,32).  Output pixels quantize with
    round-half-up (``floor(mean + 0.5)``) so the payload bytes are exactly
    recomputable cross-engine; ``mean_level`` is the mean of the QUANTIZED
    image (what the payload actually contains).  Malformed payloads skip
    per-row, never fatal."""
    tw, th = to

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": [], "payload": [],
                "width": [], "height": [], "mean_level": [],
            }
            for mid, kind, payload in zip(
                pdf["media_id"].values, pdf["kind"].values,
                pdf["payload"].values,
            ):
                if kind != "image" or payload is None:
                    continue
                try:
                    img = decode_image(bytes(payload))
                except ValueError:
                    continue
                if not img.size:
                    continue
                resized = np.clip(
                    np.floor(area_resize(img, (tw, th)) + 0.5), 0, 255
                ).astype(np.uint8)
                out["media_id"].append(mid)
                out["payload"].append(encode_pgm(resized))
                out["width"].append(tw)
                out["height"].append(th)
                out["mean_level"].append(float(resized.mean()))
            yield pd.DataFrame(
                out,
                columns=["media_id", "payload", "width", "height",
                         "mean_level"],
            )

    return spread(media.select("media_id", "kind", "payload")).mapInPandas(
        batches,
        schema=(
            "media_id long, payload binary, width int, height int, "
            "mean_level double"
        ),
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video rows -> one row per sampled frame timestamp (plumbing only;
    frames are not decoded)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_ms": []}
            for mid, kind, meta in zip(
                pdf["media_id"].values, pdf["kind"].values, pdf["meta"].values
            ):
                if kind != "video" or meta is None or not meta["duration_ms"]:
                    continue
                for ts in range(0, int(meta["duration_ms"]), every_ms):
                    out["media_id"].append(mid)
                    out["frame_ms"].append(ts)
            yield pd.DataFrame(out, columns=["media_id", "frame_ms"])

    return spread(media.select("media_id", "kind", "meta")).mapInPandas(
        batches, schema="media_id long, frame_ms long"
    )
