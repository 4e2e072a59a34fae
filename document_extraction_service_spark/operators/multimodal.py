"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The 100 TB training-data pipeline carries media payloads the same way
this engine carries `html`: an opaque binary column plus a typed
metadata struct, processed by Arrow-batched `mapInArrow` stages.  The
Spark-side plumbing here — schema, batch iteration, partitioning
behaviour, UDF signatures — is real and tested.  Codec calls are
GUARDED (r5): the real paths run when their library is importable —
Pillow for images, PyAV for video, and the STDLIB wave module for WAV
audio (which therefore executes and is content-tested in this
container) — and raise `DecodeUnavailable` otherwise.  The pinned
oracles use the deterministic md5-derived fakes (use_fake_decode=True,
the queries() default), so adding codecs never moves the oracle.

Stages (each a mapInArrow over Iterator[pa.RecordBatch], through
`_map_media`):
  * image_features  — decode -> (width, height, channels, phash64)  [Pillow-guarded]
  * image_resize    — decode -> resize(w, h) -> re-encoded reference [Pillow-guarded]
  * audio_features  — decode -> (duration_s, sample_rate, rms)      [stdlib WAV real]
  * frame_sample    — video -> every k-th frame reference           [PyAV-guarded]
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .dedup import bounded_postings, posting_pairs

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("magic", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("phash64", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"RIFF": "riff",      # wav/webp container
    b"\x1a\x45\xdf\xa3": "mkv",
    b"OggS": "ogg",
}


class DecodeUnavailable(NotImplementedError):
    """Raised by the real codec path when the needed library is absent
    or the payload does not decode.  The real paths below are GUARDED
    (the SPARK_GRAFT_ICEBERG_JARS pattern, VERDICT r4 next-round #3):
    `_decode_image_real` uses Pillow when importable,
    `_decode_audio_real` decodes WAV with the stdlib wave module (runs
    in THIS container), `_decode_video_real` uses PyAV when importable.
    Callers degrade to decode_ok=false rows, never task failure."""


def sniff_magic(payload: bytes | None) -> str:
    if not payload:
        return "empty"
    for sig, name in _MAGIC.items():
        if payload[: len(sig)] == sig:
            return name
    return "unknown"


def _decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """Real image decode via Pillow WHEN INSTALLED: (width, height,
    phash64), phash64 = 8x8 average-hash over the grayscale thumbnail
    (bit i set iff pixel i above the thumbnail mean; signed-int64
    packed).  Raises DecodeUnavailable when Pillow is absent or the
    payload is not a decodable image — the guarded test in
    tests/test_multimodal.py runs this path when Pillow is present and
    skips cleanly otherwise."""
    try:
        from PIL import Image
    except ImportError as exc:
        raise DecodeUnavailable("Pillow not installed") from exc
    import io

    try:
        with Image.open(io.BytesIO(payload)) as im:
            w, h = im.size
            px = list(im.convert("L").resize((8, 8)).getdata())
    except Exception as exc:  # decode errors -> declared unavailability
        raise DecodeUnavailable(f"image decode failed: {exc}") from exc
    mean = sum(px) / 64.0
    bits = 0
    for i, p in enumerate(px):
        if p > mean:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return w, h, bits


def _fake_image_features(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decode used when codecs are unavailable:
    width/height/phash derived from a stable digest of the payload.
    Exercises the full Spark plumbing (batching, schema, nullability)
    with reproducible values — NOT real pixel data."""
    import hashlib

    d = hashlib.md5(payload or b"").digest()
    width = 64 + d[0] * 4
    height = 64 + d[1] * 4
    phash = int.from_bytes(d[8:16], "big", signed=True)
    return width, height, phash


def _map_media(media: DataFrame, schema: T.StructType,
               rows: Callable[[str, str, bytes], list[dict]]) -> DataFrame:
    """The plumbing every media stage shares: one mapInArrow pass,
    one output batch per input batch.  `rows(media_id, kind, payload)`
    returns the output rows of one input row as dicts; a field a dict
    leaves out is NULL (the failed-decode rows).  The payload never
    reaches the output schema, so only features cross a shuffle."""
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = (b.column(c).to_pylist() for c in ("media_id", "kind", "payload"))
            out = [r for mid, kind, payload in zip(*cols)
                   for r in rows(mid, kind, payload or b"")]
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return media.mapInArrow(run, schema=schema)


def image_features(media: DataFrame, use_fake_decode: bool = True) -> DataFrame:
    """mapInArrow feature extraction over opaque blobs.  The batch
    shape is the scale contract: Arrow delivers bounded record batches,
    the iterator never materializes a partition, and output rows drop
    the payload (features only cross the shuffle)."""
    decode = _fake_image_features if use_fake_decode else _decode_image_real

    def rows(mid: str, kind: str, payload: bytes) -> list[dict]:
        row = {"media_id": mid, "kind": kind, "n_bytes": len(payload),
               "magic": sniff_magic(payload)}
        try:
            w, h, p = decode(payload)
        except DecodeUnavailable as exc:
            return [{**row, "decode_ok": False, "decode_error": str(exc)}]
        return [{**row, "width": w, "height": h, "phash64": p, "decode_ok": True}]

    return _map_media(media, FEATURES_SCHEMA, rows)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("magic", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_s", T.DoubleType(), True),
        T.StructField("frame_digest", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

FRAME_FPS = 24          # fake container framerate
MAX_FRAMES_PER_VIDEO = 64  # output bound per input row (scale contract)


def _decode_audio_real(payload: bytes) -> tuple[int, float, float]:
    """Real audio decode for WAV containers via the STDLIB wave module
    — no third-party codec needed, so this path executes (and is
    tested) in this container.  Returns (sample_rate, duration_s, rms)
    with rms normalized to [0, 1] of integer full scale.  Non-WAV
    containers and malformed RIFF raise DecodeUnavailable (a
    soundfile/ffmpeg binding would widen coverage when installed)."""
    import io
    import math
    import wave

    if sniff_magic(payload) != "riff":
        raise DecodeUnavailable("non-WAV container and no audio codec libs")
    try:
        with wave.open(io.BytesIO(payload)) as w:
            sr = w.getframerate()
            n = w.getnframes()
            sw = w.getsampwidth()
            frames = w.readframes(n)
    except (wave.Error, EOFError) as exc:
        raise DecodeUnavailable(f"wav parse failed: {exc}") from exc
    duration_s = n / float(sr) if sr else 0.0
    import numpy as np

    if sw == 2 and frames:
        s = np.frombuffer(frames[: (len(frames) // 2) * 2], dtype="<i2")
        rms = float(math.sqrt(float(np.mean(s.astype(np.float64) ** 2))) / 32768.0)
    elif sw == 1 and frames:
        s = np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0
        rms = float(math.sqrt(float(np.mean(s ** 2))) / 128.0)
    else:
        raise DecodeUnavailable(f"unsupported wav sample width {sw}")
    return sr, duration_s, rms


def _decode_video_real(payload: bytes) -> int:
    """Real video frame count via PyAV WHEN INSTALLED; raises
    DecodeUnavailable otherwise (guarded test skips cleanly)."""
    try:
        import av
    except ImportError as exc:
        raise DecodeUnavailable("PyAV not installed") from exc
    import io

    try:
        with av.open(io.BytesIO(payload)) as container:
            return sum(1 for _ in container.decode(video=0))
    except Exception as exc:
        raise DecodeUnavailable(f"video decode failed: {exc}") from exc


def _fake_audio_features(payload: bytes) -> tuple[int, float, float]:
    """DETERMINISTIC FAKE audio decode (same contract as
    _fake_image_features): sample_rate/duration/rms from a stable
    digest + payload length — NOT real samples."""
    import hashlib

    d = hashlib.md5(payload or b"").digest()
    sample_rate = (8000, 16000, 22050, 44100)[d[0] % 4]
    # "duration" as if the blob were 16-bit mono PCM at that rate
    duration_s = len(payload or b"") / (sample_rate * 2.0)
    rms = d[2] / 255.0
    return sample_rate, duration_s, rms


def _fake_video_frames(payload: bytes) -> int:
    """DETERMINISTIC FAKE frame count: 24..263 frames from the digest."""
    import hashlib

    d = hashlib.md5(payload or b"").digest()
    return 24 + d[3] % 240


def audio_features(media: DataFrame, use_fake_decode: bool = True) -> DataFrame:
    """mapInArrow audio feature extraction — same plumbing contract as
    image_features: bounded Arrow batches in, payload dropped before
    anything crosses a shuffle, codec failure degrades to
    decode_ok=false rows."""
    decode = _fake_audio_features if use_fake_decode else _decode_audio_real

    def rows(mid: str, kind: str, payload: bytes) -> list[dict]:
        row = {"media_id": mid, "kind": kind, "n_bytes": len(payload),
               "magic": sniff_magic(payload)}
        try:
            sr, dur, rms = decode(payload)
        except DecodeUnavailable as exc:
            return [{**row, "decode_ok": False, "decode_error": str(exc)}]
        return [{**row, "sample_rate": sr, "duration_s": dur, "rms": rms,
                 "decode_ok": True}]

    return _map_media(media, AUDIO_FEATURES_SCHEMA, rows)


def frame_sample(media: DataFrame, every_k: int = 8,
                 use_fake_decode: bool = True) -> DataFrame:
    """Video -> every k-th frame reference, one output row per sampled
    frame.  The row-EXPANDING mapInArrow shape: output per input row
    is bounded by MAX_FRAMES_PER_VIDEO so a pathological container can
    never blow up a task, and frames carry digests — never pixel
    payloads — across the shuffle boundary."""
    import hashlib

    decode = _fake_video_frames if use_fake_decode else _decode_video_real

    def rows(mid: str, kind: str, payload: bytes) -> list[dict]:
        try:
            n_frames = decode(payload)
        except DecodeUnavailable as exc:
            return [{"media_id": mid, "frame_idx": -1, "decode_ok": False,
                     "decode_error": str(exc)}]
        return [
            {"media_id": mid, "frame_idx": fi, "ts_s": fi / FRAME_FPS,
             "frame_digest": hashlib.md5(payload + fi.to_bytes(4, "big")).hexdigest(),
             "decode_ok": True}
            for fi in range(0, n_frames, every_k)[:MAX_FRAMES_PER_VIDEO]
        ]

    return _map_media(media, FRAME_SCHEMA, rows)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("dst_width", T.IntegerType(), True),
        T.StructField("dst_height", T.IntegerType(), True),
        T.StructField("resized_digest", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def image_resize(media: DataFrame, max_side: int = 256,
                 use_fake_decode: bool = True) -> DataFrame:
    """Aspect-preserving resize to max_side (decode -> resize ->
    re-encode, codecs stubbed).  Output carries the resized artifact as
    a digest REFERENCE, never the pixel payload — in production the
    re-encoded bytes go to object storage keyed by that digest, so the
    shuffle moves ~100 bytes/row regardless of image size."""
    import hashlib

    decode = _fake_image_features if use_fake_decode else _decode_image_real

    def rows(mid: str, kind: str, payload: bytes) -> list[dict]:
        try:
            w, h, _ = decode(payload)
        except DecodeUnavailable as exc:
            return [{"media_id": mid, "decode_ok": False, "decode_error": str(exc)}]
        scale = min(1.0, max_side / max(w, h))
        dw, dh = max(1, int(w * scale)), max(1, int(h * scale))
        digest = hashlib.md5(payload + f"|{dw}x{dh}".encode()).hexdigest()
        return [{"media_id": mid, "src_width": w, "src_height": h,
                 "dst_width": dw, "dst_height": dh, "resized_digest": digest,
                 "decode_ok": True}]

    return _map_media(media, RESIZE_SCHEMA, rows)


def media_from_pages(spark: SparkSession, n: int = 300) -> DataFrame:
    """Build a media table from the synthetic corpus: the html payload
    stands in as the opaque blob (kind derived from url family)."""
    from ..fixtures import pages_df

    pages = pages_df(spark, n)
    return pages.select(
        F.col("url").alias("media_id"),
        F.when(F.col("url").contains("/figure/"), "image")
        .when(F.col("url").contains("/tabular/"), "video")
        .otherwise("unknown")
        .alias("kind"),
        F.col("html").alias("payload"),
        F.struct(
            F.length("html").cast("long").alias("n_bytes"),
            F.lit(None).cast("string").alias("magic"),
            F.md5(F.col("html")).alias("digest"),
        ).alias("meta"),
    )


def media_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: end-to-end media pipeline over 300 synthetic
    blobs (payloads built in-Spark from the fixture corpus — a pure
    function of (seed, i), so the oracle is a pinned pure-Python replay
    of the md5-derived fakes, scripts/replay_sketches.py).  Returns the
    feature rows plus deterministic fake decode values."""
    media = media_from_pages(spark, 300)
    return image_features(media).select(
        "media_id", "kind", "n_bytes", "magic", "width", "height", "decode_ok"
    )


def media_audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: audio stage over the same synthetic blobs
    (pinned-replay oracle, scripts/replay_sketches.py)."""
    return audio_features(media_from_pages(spark, 300)).select(
        "media_id", "kind", "n_bytes", "magic",
        "sample_rate", "duration_s", "rms", "decode_ok",
    )


def media_frame_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: frame sampling over the synthetic 'video' blobs
    (pinned-replay oracle; row-expanding stage)."""
    media = media_from_pages(spark, 300).filter(F.col("kind") == "video")
    return frame_sample(media, every_k=8)


def media_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: resize stage over the synthetic 'image' blobs
    (pinned-replay oracle)."""
    media = media_from_pages(spark, 300).filter(F.col("kind") == "image")
    return image_resize(media, max_side=256)


# --- perceptual-hash image dedup --------------------------------------------
# Near-duplicate IMAGES cluster by perceptual hash: the 64-bit
# average-hash from the decode path (`_decode_image_real` computes it
# from real pixels when Pillow is present; `_fake_image_features`
# md5-derives it) compared under Hamming distance.  Blocking is the
# SimHash pattern: 4 x 16-bit chunks — by pigeonhole any pair within
# Hamming distance 3 shares at least one exact chunk, so a capped
# chunk-postings join enumerates every candidate without an n^2 pair
# space.  The corpus' fake phashes are md5-uniform (no near-dups at
# distance <= 3 ever), so the demo query PLANTS collision structure
# the way _variant_urls plants url noise: groups of 3 docs share a
# base hash with member 1 at distance 2 (kept) and member 2 at
# distance 4 (provably beyond the threshold).  All hash arithmetic
# works on the NONNEGATIVE 32-bit halves (hi, lo) so no signed
# shift/xor subtleties exist in either engine; the signed-64 phash is
# reconstructed only for the output column (matching the fake
# decode's signed packing).
PHASH_MAX_HAMMING = 3
PHASH_BUCKET_CAP = 64
# planted masks: member 1 flips lo bits {5, 20} (distance 2);
# member 2 flips lo {3, 17} + hi {1, 17} (= bits 3,17,33,49; distance 4)
_PH_LO_MASK_1 = (1 << 5) | (1 << 20)
_PH_LO_MASK_2 = (1 << 3) | (1 << 17)
_PH_HI_MASK_2 = (1 << 1) | (1 << 17)


def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming, phash_a, phash_b): image near-dup pairs
    at Hamming distance <= PHASH_MAX_HAMMING over 64-bit perceptual
    hashes, via capped 16-bit-chunk blocking.

    Scale shape: hash derivation is a pure map; each image emits
    exactly 4 (chunk_idx, chunk_val) postings; buckets above
    PHASH_BUCKET_CAP are dropped (dedup.bounded_postings), pairs come
    from dedup.posting_pairs, and the exact Hamming verify runs only
    on candidates — bit_count over the two 32-bit halves, all JVM
    codegen, no Python.  Pair space <= 4 * n_buckets * cap^2 at any
    corpus size.  Deterministic: integer
    bit arithmetic only; oracle is a full SQL mirror."""
    from .tables import read_table

    d = read_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("img|"),
                       F.expr("doc_id div 3").cast("string")))
    hi0 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo0 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    j = F.col("doc_id") % 3
    lo = F.when(j == 1, lo0.bitwiseXOR(F.lit(_PH_LO_MASK_1))).when(
        j == 2, lo0.bitwiseXOR(F.lit(_PH_LO_MASK_2))
    ).otherwise(lo0)
    hi = F.when(j == 2, hi0.bitwiseXOR(F.lit(_PH_HI_MASK_2))).otherwise(hi0)
    t = d.select("doc_id", hi.alias("hi"), lo.alias("lo"))
    chunks = t.select(
        "doc_id", "hi", "lo",
        F.explode(F.array(
            F.struct(F.lit(0).alias("ci"),
                     (F.col("lo") % 65536).alias("cv")),
            F.struct(F.lit(1).alias("ci"),
                     F.expr("(lo div 65536) % 65536").alias("cv")),
            F.struct(F.lit(2).alias("ci"),
                     (F.col("hi") % 65536).alias("cv")),
            F.struct(F.lit(3).alias("ci"),
                     F.expr("(hi div 65536) % 65536").alias("cv")),
        )).alias("c"),
    ).select("doc_id", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    posts = bounded_postings(chunks, ["ci", "cv"], "doc_id", PHASH_BUCKET_CAP)
    cand = posting_pairs(posts, names=("doc_a", "doc_b")).distinct()
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("hi").alias("hi_a"),
                 F.col("lo").alias("lo_a"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("hi").alias("hi_b"),
                 F.col("lo").alias("lo_b"))
    ham = F.expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)")
    signed = (
        lambda hic, loc: (
            hic - F.when(hic >= F.lit(1 << 31), F.lit(1 << 32)).otherwise(0)
        ) * F.lit(1 << 32) + loc
    )
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .filter(ham <= PHASH_MAX_HAMMING)
        .select(
            "doc_a", "doc_b",
            ham.cast("long").alias("hamming"),
            signed(F.col("hi_a"), F.col("lo_a")).alias("phash_a"),
            signed(F.col("hi_b"), F.col("lo_b")).alias("phash_b"),
        )
    )


def _sql_phash() -> str:
    signed = ("(({h} - CASE WHEN {h} >= 2147483648 THEN 4294967296"
              " ELSE 0 END) * 4294967296 + {l})")
    return f"""
WITH base AS (SELECT doc_id,
                CAST('0x' || substr(md5('img|' || CAST(doc_id // 3 AS VARCHAR)),
                                    1, 8) AS BIGINT) AS hi0,
                CAST('0x' || substr(md5('img|' || CAST(doc_id // 3 AS VARCHAR)),
                                    9, 8) AS BIGINT) AS lo0,
                CAST(doc_id % 3 AS INTEGER) AS j
              FROM documents),
t AS (SELECT doc_id,
             CASE WHEN j = 2 THEN xor(hi0, {_PH_HI_MASK_2}) ELSE hi0 END AS hi,
             CASE WHEN j = 1 THEN xor(lo0, {_PH_LO_MASK_1})
                  WHEN j = 2 THEN xor(lo0, {_PH_LO_MASK_2})
                  ELSE lo0 END AS lo
      FROM base),
chunks AS (
  SELECT doc_id, 0 AS ci, lo % 65536 AS cv FROM t
  UNION ALL SELECT doc_id, 1, (lo // 65536) % 65536 FROM t
  UNION ALL SELECT doc_id, 2, hi % 65536 FROM t
  UNION ALL SELECT doc_id, 3, (hi // 65536) % 65536 FROM t),
ok AS (SELECT ci, cv FROM chunks GROUP BY ci, cv
       HAVING COUNT(*) BETWEEN 2 AND {PHASH_BUCKET_CAP}),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM chunks x JOIN chunks y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
         JOIN ok ON ok.ci = x.ci AND ok.cv = x.cv),
v AS (SELECT doc_a, doc_b,
             bit_count(xor(ta.hi, tb.hi)) + bit_count(xor(ta.lo, tb.lo))
               AS hamming,
             ta.hi AS hi_a, ta.lo AS lo_a, tb.hi AS hi_b, tb.lo AS lo_b
      FROM cand JOIN t ta ON ta.doc_id = cand.doc_a
                JOIN t tb ON tb.doc_id = cand.doc_b)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming,
       {signed.format(h="hi_a", l="lo_a")} AS phash_a,
       {signed.format(h="hi_b", l="lo_b")} AS phash_b
FROM v WHERE hamming <= {PHASH_MAX_HAMMING}
"""


QUERIES = {
    "media_features": media_features_query,
    "media_resize": media_resize_query,
    "media_audio_features": media_audio_features_query,
    "media_frame_sample": media_frame_sample_query,
    "media_phash_dedup": media_phash_dedup,
}
# feature/resize/audio/frame oracles are pinned replays served by
# __spark_entry__; the phash dedup is integer algebra -> direct SQL
ORACLES: dict[str, str] = {"media_phash_dedup": _sql_phash()}
