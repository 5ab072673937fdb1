"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata travelling alongside.  The decode/feature-extract step is a
``mapInPandas`` Arrow-batch pipeline:

* ``decode_png_batch`` — a REAL decoder for 8-bit RGB PNGs (stdlib
  zlib/struct, all five scanline filters, ``plans/png.py``) with
  per-record error isolation — no codec library needed;
* ``decode_batch``/``frame_sample`` — deterministic STUBS for formats
  whose codecs aren't in this container (JPEG/audio/video), keeping the
  Spark-side plumbing (schema, batch shape, partitioning) real and
  tested.

``binary_metadata`` (oracle-checked) derives byte length, digest and
deterministic fake decode dimensions from the payload with pure
Catalyst expressions.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_tables import load_table, parallelize_if_underpartitioned


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer here is an Arrow mapInPandas kernel (decode /
    # pHash / frame-sample) — an under-split scan would pin the whole
    # Python stage to ONE worker, so rebalance at the source (exact
    # no-op on a well-split lake)
    return parallelize_if_underpartitioned(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )


def as_binary_table(docs: DataFrame) -> DataFrame:
    """Model a multimodal table: (id, payload BINARY, media_type, meta)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def binary_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata from the opaque payload — JVM-side only.

    Fake decode dims are a deterministic function of the byte length
    (stands in for a real header parse): width = 64 + len % 256,
    height = 64 + (len // 7) % 256.
    """
    blen = F.octet_length("payload").cast("bigint")
    return media.select(
        "media_id",
        "media_type",
        blen.alias("byte_len"),
        F.md5("payload").alias("digest"),
        (F.lit(64) + blen % 256).cast("bigint").alias("fake_width"),
        (F.lit(64) + (F.floor(blen / 7) % 256)).cast("bigint").alias("fake_height"),
    )


DECODE_SCHEMA = (
    "media_id bigint, fake_width bigint, fake_height bigint, "
    "n_pixels bigint, mean_intensity double"
)


def decode_batch(media: DataFrame) -> DataFrame:
    """STUB decode via mapInPandas — the shape a real codec UDF takes.

    A real implementation would decode ``payload`` with PIL/ffmpeg per
    Arrow batch; this deterministic fake derives a tiny "image" from the
    payload bytes so the batch plumbing (binary in, struct out,
    partition-parallel) is exercised end-to-end.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["payload"].map(len).to_numpy()
            w = 64 + lens % 256
            h = 64 + (lens // 7) % 256
            # deterministic fake: "mean pixel" = mean byte value of payload
            mean_int = pdf["payload"].map(
                lambda b: float(np.frombuffer(b, dtype=np.uint8).mean())
                if len(b)
                else 0.0
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fake_width": w,
                    "fake_height": h,
                    "n_pixels": w * h,
                    "mean_intensity": mean_int,
                }
            )

    return media.mapInPandas(decode, DECODE_SCHEMA)


PNG_DECODE_SCHEMA = (
    "media_id bigint, width bigint, height bigint, n_pixels bigint, "
    "mean_intensity double, err string"
)


def decode_png_batch(media: DataFrame) -> DataFrame:
    """REAL decode for PNG payloads — no codec library required.

    The stdlib decoder in ``plans/png.py`` handles 8-bit RGB PNGs (all
    five scanline filters); per Arrow batch each payload is parsed,
    unfiltered, and reduced to (width, height, mean intensity).
    Non-PNG / unsupported payloads yield NULL stats + an ``err`` string
    instead of failing the task — per-record error isolation, the shape
    a 100-TB media pipeline needs (a corrupt file must not kill a
    partition).
    """
    from ..plans.png import decode_rgb
    from ..shipping import ensure_shipped

    ensure_shipped(media.sparkSession)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": [],
                "width": [],
                "height": [],
                "n_pixels": [],
                "mean_intensity": [],
                "err": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rows["media_id"].append(mid)
                try:
                    w, h, rgb = decode_rgb(bytes(payload))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["n_pixels"].append(w * h)
                    rows["mean_intensity"].append(
                        float(np.frombuffer(rgb, dtype=np.uint8).mean())
                    )
                    rows["err"].append(None)
                except Exception as exc:  # per-record isolation
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["n_pixels"].append(None)
                    rows["mean_intensity"].append(None)
                    rows["err"].append(str(exc)[:120])
            yield pd.DataFrame(rows)

    return media.mapInPandas(decode, PNG_DECODE_SCHEMA)


#: perceptual-hash config: 64-bit codes, 8 bands x 8 bits.  Any pair
#: within PHASH_MAX_HAMMING < PHASH_BANDS bit flips must agree on at
#: least one full band (pigeonhole), so the banded join is COMPLETE for
#: the reported threshold — same guarantee as dedup_simhash_pairs.
PHASH_BANDS = 8
PHASH_BAND_BITS = 8
PHASH_MAX_HAMMING = 7
PHASH_SCHEMA = "media_id bigint, phash bigint"


def phash_codes(media: DataFrame) -> DataFrame:
    """64-bit perceptual hash per payload via mapInPandas.

    Stands in for a real image pHash (DCT of decoded pixels): the
    deterministic fake "decodes" the payload into a 17-d feature vector
    (z-scored means of 16 positional chunks + log length — the
    structure-sensitive thumbnail summary a real pHash reduces to; a
    position-blind byte histogram was measured useless here: similar
    corpora collapse onto one code) and takes sign bits of a FIXED
    random projection, one Arrow-batched matmul per batch.  Swap
    `_features` for a codec call and nothing else changes — the
    schema, batch shape and downstream join are the production ones.
    """

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        proj = np.random.RandomState(7).standard_normal((17, 64))

        def _features(b: bytes | None) -> np.ndarray:
            # NULL payload → same code path as an empty one: a stable
            # all-zero feature row, not a task-killing TypeError (the
            # per-record isolation decode_png_batch already has).
            a = np.frombuffer(b or b"", dtype=np.uint8).astype(np.float64)
            if a.size == 0:
                return np.zeros(17)
            if a.size < 16:
                # pad: array_split would yield EMPTY chunks whose mean
                # is NaN, silently collapsing every short payload onto
                # the all-zero code
                a = np.pad(a, (0, 16 - a.size))
            m = np.array([c.mean() for c in np.array_split(a, 16)])
            z = (m - m.mean()) / (m.std() or 1.0)
            return np.concatenate([z, [np.log1p(a.size)]])

        for pdf in batches:
            if pdf.empty:
                # np.stack([]) raises on an empty Arrow batch
                continue
            feats = np.stack([_features(b) for b in pdf["payload"]])
            bits = (feats @ proj) > 0.0  # (n, 64) sign bits
            weights = (1 << np.arange(64, dtype=np.uint64))
            codes = (bits.astype(np.uint64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": codes.view(np.int64),  # two's complement
                }
            )

    return media.mapInPandas(encode, PHASH_SCHEMA)


def phash_near_dup_pairs(
    media: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """Perceptual near-duplicate pairs: banded Hamming join over the
    pHash codes.

    Each code explodes into 8 (band_idx, band_val) rows; candidates
    share a band (equi-join — never all-pairs), then the exact Hamming
    distance (`bit_count(a ^ b)`) filters to the threshold.  Because
    max_hamming < PHASH_BANDS, the pigeonhole principle makes the
    banded candidate set COMPLETE — verified against brute force in
    tests.  At 100 TB this is the simhash/banded-LSH shape: join cost
    follows bucket occupancy, not corpus².
    """
    codes = phash_codes(media)
    mask = (1 << PHASH_BAND_BITS) - 1
    band_vals = F.array(
        *[
            F.shiftrightunsigned("phash", i * PHASH_BAND_BITS).bitwiseAND(
                F.lit(mask)
            )
            for i in range(PHASH_BANDS)
        ]
    )
    bands = codes.select(
        "media_id",
        "phash",
        F.posexplode(band_vals).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("media_id").alias("a"),
        F.col("phash").alias("ph_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("media_id").alias("b"),
        F.col("phash").alias("ph_b"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    return phash_near_dup_pairs(as_binary_table(_docs(spark, sf_dir)))


FRAME_SCHEMA = (
    "media_id bigint, frame_idx bigint, frame_offset_bytes bigint, "
    "frame_digest string"
)


def frame_sample(media: DataFrame, every_n: int = 4) -> DataFrame:
    """STUB video frame sampling via mapInPandas.

    A real implementation seeks the container and decodes every n-th
    frame; the deterministic fake treats the payload as a stream of
    64-byte "frames" and emits metadata for every ``every_n``-th one —
    the Arrow-batch plumbing (one input row -> many output rows,
    partition-parallel) is exactly what a video pipeline needs.
    """
    import hashlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_offset_bytes": [], "frame_digest": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // 64)
                for idx in range(0, n_frames, every_n):
                    chunk = bytes(payload[idx * 64 : (idx + 1) * 64])
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_offset_bytes"].append(idx * 64)
                    out["frame_digest"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(sample, FRAME_SCHEMA)


# the stub decode is DETERMINISTIC (dims from byte length, "mean pixel"
# = mean byte value), and the corpus text is ASCII -> the Python batch
# path has an exact SQL twin (unicode(char) == byte value), upgrading
# the mapInPandas query from rows-only to hash-checked
ORACLE_DECODE_STUB = """WITH b AS (
  SELECT doc_id AS media_id, length(text) AS len,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE list_aggregate(
                     list_transform(generate_series(1, length(text)),
                                    i -> unicode(substr(text, i, 1))),
                     'sum') * 1.0 / length(text)
         END AS mean_intensity
  FROM documents
)
SELECT media_id,
       CAST(64 + len % 256 AS BIGINT) AS fake_width,
       CAST(64 + (len // 7) % 256 AS BIGINT) AS fake_height,
       CAST((64 + len % 256) * (64 + (len // 7) % 256) AS BIGINT) AS n_pixels,
       mean_intensity
FROM b"""

# frame sampling over ASCII payloads: the 64-byte "frames" are substr
# slices, so the digests have an exact SQL twin as well
ORACLE_FRAME_SAMPLE = """WITH f AS (
  SELECT doc_id AS media_id, text,
         greatest(1, length(text) // 64) AS n_frames
  FROM documents
),
idx AS (
  SELECT media_id, text, CAST(i AS BIGINT) AS frame_idx
  FROM f, unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS u(i)
)
SELECT media_id, frame_idx,
       CAST(frame_idx * 64 AS BIGINT) AS frame_offset_bytes,
       md5(substr(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_digest
FROM idx"""

ORACLE_BINARY_METADATA = """SELECT doc_id AS media_id,
       'image/fake' AS media_type,
       CAST(length(text) AS BIGINT) AS byte_len,
       md5(text) AS digest,
       CAST(64 + length(text) % 256 AS BIGINT) AS fake_width,
       CAST(64 + (length(text) // 7) % 256 AS BIGINT) AS fake_height
FROM documents"""


def q_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return binary_metadata(as_binary_table(_docs(spark, sf_dir)))


def q_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_batch(as_binary_table(_docs(spark, sf_dir)))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    return frame_sample(as_binary_table(_docs(spark, sf_dir)))


QUERIES = {
    "multimodal_binary_metadata": (q_binary_metadata, ORACLE_BINARY_METADATA),
    "multimodal_decode_stub": (q_decode_stub, ORACLE_DECODE_STUB),
    "multimodal_frame_sample": (q_frame_sample, ORACLE_FRAME_SAMPLE),
    # rows-only: the feature extraction is a Python mapInPandas stage
    # (no SQL twin); brute-force pair-set equality is pinned in pytest.
    "multimodal_phash_dedup": (q_phash_dedup, None),
}


AUDIO_SCHEMA = (
    "media_id bigint, n_samples bigint, n_frames bigint, "
    "mean_rms double, max_rms double, mean_zcr double"
)
#: PCM frame length / hop (samples) for the audio feature extractor.
AUDIO_FRAME = 256
AUDIO_HOP = 128


def audio_features(
    media: DataFrame, frame: int = AUDIO_FRAME, hop: int = AUDIO_HOP
) -> DataFrame:
    """Audio feature extraction over opaque binary payloads.

    Interprets the payload as little-endian PCM16 (the WAV body
    convention) and computes REAL framed DSP features — per-frame RMS
    energy and zero-crossing rate, rolled up per media row.  Unlike
    the image/video paths (decode_batch/frame_sample), nothing here is
    stubbed: energy and ZCR are exact functions of the bytes, no codec
    needed — which is also why this is the standard first-pass
    quality/speech-detection signal in audio corpus pipelines.

    Plumbing: one Arrow mapInPandas pass, vectorized numpy framing
    (stride tricks, no Python loop over samples); partition-parallel
    with no exchange at all.  No SQL twin (int16 framing), so the
    registry entry is rows-only; exactness is pinned against synthetic
    sine/silence payloads in tests/test_multimodal_audio.py.
    """
    from ..shipping import ensure_shipped

    ensure_shipped(media.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # one output frame PER Arrow batch (decode_png_batch's
            # discipline) — never accumulate the whole partition
            out = {
                "media_id": [], "n_samples": [], "n_frames": [],
                "mean_rms": [], "max_rms": [], "mean_zcr": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) < 2:
                    row = (mid, 0, 0, None, None, None)
                else:
                    raw = bytes(payload)
                    x = np.frombuffer(
                        raw[: len(raw) - (len(raw) % 2)], dtype="<i2"
                    ).astype("float64") / 32768.0
                    n = len(x)
                    if n < frame:
                        frames = x[None, :] if n else np.zeros((0, frame))
                    else:
                        k = 1 + (n - frame) // hop
                        frames = np.lib.stride_tricks.as_strided(
                            x,
                            shape=(k, frame),
                            strides=(x.strides[0] * hop, x.strides[0]),
                        )
                    if frames.shape[0] == 0:
                        row = (mid, n, 0, None, None, None)
                    else:
                        rms = np.sqrt((frames**2).mean(axis=1))
                        if frames.shape[1] >= 2:
                            zcr = float(
                                np.abs(np.diff(np.signbit(frames), axis=1))
                                .mean(axis=1)
                                .mean()
                            )
                        else:
                            # a 1-sample frame has no adjacent pair —
                            # zero crossings, not NaN-of-empty-slice
                            zcr = 0.0
                        row = (
                            mid,
                            n,
                            frames.shape[0],
                            round(float(rms.mean()), 6),
                            round(float(rms.max()), 6),
                            round(zcr, 6),
                        )
                for c, v in zip(out, row):
                    out[c].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, AUDIO_SCHEMA)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents-as-PCM plumbing query: the text bytes stand in for a
    WAV body, exercising the framing/feature path end-to-end."""
    return audio_features(as_binary_table(_docs(spark, sf_dir)))


QUERIES["multimodal_audio_features"] = (q_audio_features, None)
