"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDFs.

No image/audio codec is bundled, so the decode step is a deterministic
fake (``fake_decode_features``) used by tests and the registry query —
but the Spark-side plumbing is real: schemas, ``mapInPandas`` batch
iteration, partition-parallel execution, and metadata extraction are
exactly what a codec-backed implementation would use at 100 TB (swap
``fake_decode_features`` for PIL/ffmpeg).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table

#: schema of a multimodal asset column group
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("meta", T.StructType(
            [
                T.StructField("byte_len", T.LongType(), True),
                T.StructField("width", T.IntegerType(), True),
                T.StructField("height", T.IntegerType(), True),
                T.StructField("duration_ms", T.LongType(), True),
            ]
        ), True),
    ]
)


def fake_decode_features(payload: bytes, n_features: int = 4) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: rolling-byte
    checksums of the payload.  Keeps the full pipeline testable."""
    if payload is None:
        return [0.0] * n_features
    acc = [0] * n_features
    for i, b in enumerate(payload):
        acc[i % n_features] = (acc[i % n_features] * 31 + b) % 1_000_003
    return [float(x) for x in acc]


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a binary asset column from text (UTF-8 bytes) with typed
    metadata — the shape a parquet table with real blobs would have."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col("doc_id").alias("asset_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.struct(
            F.length(payload).cast("bigint").alias("byte_len"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


_FEATURES_SCHEMA = "asset_id bigint, byte_len bigint, f0 double, f1 double, f2 double, f3 double"


def extract_features(assets: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Partition-parallel decode/feature pass via ``mapInPandas``:
    Arrow batches in, one feature row per asset out.  This is the slot
    where a real codec plugs in; the batch shape (iterator of pandas
    DataFrames) is the production pattern for heavyweight per-row work."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(fake_decode_features)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "byte_len": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "f0": feats.map(lambda f: f[0]),
                    "f1": feats.map(lambda f: f[1]),
                    "f2": feats.map(lambda f: f[2]),
                    "f3": feats.map(lambda f: f[3]),
                }
            )

    return assets.mapInPandas(op, schema=_FEATURES_SCHEMA)


def mm_meta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata extraction — byte length of the synthesized payload
    (oracle-checkable: DuckDB computes the same UTF-8 octet length)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = attach_binary_payload(docs)
    return assets.select(
        "asset_id",
        "media_type",
        F.col("meta.byte_len").alias("byte_len"),
    ).orderBy("asset_id")


MM_META_SQL = """
SELECT doc_id AS asset_id, 'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
FROM documents ORDER BY asset_id
"""


def mm_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full plumbing pass: synthesize payloads → mapInPandas feature
    extraction (deterministic fake decode), oracle-checked byte-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs)).orderBy("asset_id")


def _mm_features_sql() -> str:
    """DuckDB twin of the fake decode: the rolling checksum
    ``acc[i%4] = (acc[i%4]*31 + byte_i) % 1000003`` re-derived from the
    payload's hex dump with a per-lane list_reduce — byte-exact, so even
    the stubbed decode path gets a value-hash oracle (a real codec would
    drop back to rows-only, which is the declared deployment stance)."""
    lanes = ",\n  ".join(
        f"CAST(list_reduce(list_prepend(0, list_transform(range({j}, n, 4),\n"
        f"     i -> ('0x' || substr(hx, 2*i + 1, 2))::BIGINT)),\n"
        f"     (acc, b) -> (acc * 31 + b) % 1000003) AS DOUBLE) AS f{j}"
        for j in range(4)
    )
    return f"""
WITH h AS (
  SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT asset_id, CAST(n AS BIGINT) AS byte_len,
  {lanes}
FROM h ORDER BY asset_id
"""


FRAME_BYTES = 64   #: bytes per fake "frame" of a video payload
FRAME_STRIDE = 4   #: sample every 4th frame
MAX_FRAMES = 8     #: cap sampled frames per asset
FRAME_MS = 40      #: fake 25 fps → 40 ms per frame


def sample_frames(
    assets: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    stride: int = FRAME_STRIDE,
    max_frames: int = MAX_FRAMES,
) -> DataFrame:
    """Video frame sampling plumbing: one input asset row → N sampled-frame
    rows via ``mapInPandas`` (1→many, the real frame-extraction shape —
    swap the byte-slice "frame decode" for ffmpeg keyframe extraction at
    deployment; everything else — Arrow batching, fan-out schema,
    partition parallelism — is production-shaped).

    A "frame" is a ``frame_bytes`` slice of the payload; every ``stride``-th
    frame is sampled up to ``max_frames``, each emitted with its index,
    fake timestamp, byte length, and an md5 content fingerprint (the
    dedup/similarity key a video pipeline hashes per keyframe).
    """
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, lens, md5s = [], [], [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                n_frames = -(-len(payload) // frame_bytes)
                for fi in range(0, min(n_frames, stride * max_frames), stride):
                    chunk = bytes(payload[fi * frame_bytes : (fi + 1) * frame_bytes])
                    ids.append(asset_id)
                    idxs.append(fi)
                    tss.append(fi * FRAME_MS)
                    lens.append(len(chunk))
                    md5s.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return assets.mapInPandas(
        op,
        schema=(
            "asset_id bigint, frame_idx int, frame_ts_ms bigint, "
            "frame_len int, frame_md5 string"
        ),
    )


def mm_frames_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs)).orderBy("asset_id", "frame_idx")


# Oracle-checkable because the synthetic payload is ASCII text (octet ==
# char offsets, verified octet_length == length over the corpus); a real
# binary corpus keeps the rows-only check instead.
MM_FRAMES_SQL = f"""
WITH a AS (SELECT doc_id AS asset_id, text, length(text) AS n FROM documents),
f AS (
  SELECT asset_id, text,
         unnest(range(0, least(CAST(ceil(n / {FRAME_BYTES}.0) AS INT),
                               {FRAME_STRIDE * MAX_FRAMES}), {FRAME_STRIDE}))
           AS frame_idx,
         n
  FROM a
)
SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {FRAME_MS} AS BIGINT) AS frame_ts_ms,
       CAST(least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS INT) AS frame_len,
       md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
FROM f ORDER BY asset_id, frame_idx
"""


MULTIMODAL_QUERIES = {
    "mm_binary_meta": (mm_meta_query, MM_META_SQL),
    # Pandas-UDF fake decode isn't ANSI-SQL-expressible — rows-only check.
    "mm_decode_features": (mm_features_query, _mm_features_sql()),
    "mm_frame_sample": (mm_frames_query, MM_FRAMES_SQL),
}


OUT_SIDE = 8  #: resized output grid side (8×8 "thumbnail")


def resize_assets(assets: DataFrame, out_side: int = OUT_SIDE) -> DataFrame:
    """Image-resize plumbing: interpret each payload as a square byte grid
    (side = floor(sqrt(byte_len)), the deterministic stand-in for a real
    decoded raster) and nearest-neighbor-resample it to ``out_side²``
    bytes with one vectorized numpy gather per asset — the exact batch
    shape a PIL/torchvision ``resize`` slots into (swap `_grid_resample`
    for the codec call; schema, Arrow batching, and fan-in stay as-is).

    Output carries the resized payload, its md5 (content key for
    downstream thumbnail dedup), and the mean byte value (a cheap
    brightness-style feature proving the resample touched real bytes).
    """
    import hashlib

    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sides, md5s, means, outs = [], [], [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                side = int(len(buf) ** 0.5)
                if side == 0:
                    continue
                grid = buf[: side * side].reshape(side, side)
                idx = (np.arange(out_side) * side) // out_side
                resized = grid[np.ix_(idx, idx)]
                rb = resized.tobytes()
                ids.append(asset_id)
                sides.append(side)
                md5s.append(hashlib.md5(rb).hexdigest())
                means.append(float(resized.mean()))
                outs.append(bytearray(rb))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "src_side": pd.Series(sides, dtype="int32"),
                    "thumb": pd.Series(outs, dtype="object"),
                    "thumb_md5": pd.Series(md5s, dtype="object"),
                    "mean_byte": pd.Series(means, dtype="float64"),
                }
            )

    return assets.mapInPandas(
        op,
        schema=(
            "asset_id bigint, src_side int, thumb binary, "
            "thumb_md5 string, mean_byte double"
        ),
    )


def mm_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        resize_assets(attach_binary_payload(docs))
        .select("asset_id", "src_side", "thumb_md5", F.round("mean_byte", 4).alias("mean_byte"))
        .orderBy("asset_id")
    )


# Oracle-checkable on the ASCII corpus: the "grid" is text chars, so the
# gathered thumbnail is a concat of 64 substrings at the same computed
# offsets; the mean byte is the average of their ASCII codes.
def _mm_resize_sql() -> str:
    out = OUT_SIDE
    picks = (
        f"list_transform(generate_series(0, {out * out - 1}), "
        f"p -> substring(text, ((p // {out}) * side // {out}) * side "
        f"+ ((p % {out}) * side // {out}) + 1, 1))"
    )
    return f"""
WITH a AS (
  SELECT doc_id AS asset_id, text,
         CAST(floor(sqrt(length(text))) AS INT) AS side
  FROM documents WHERE length(text) >= 1
),
g AS (SELECT asset_id, side, {picks} AS px FROM a)
SELECT asset_id, side AS src_side,
       md5(array_to_string(px, '')) AS thumb_md5,
       round(list_sum(list_transform(px, c -> ascii(c)))::DOUBLE / {out * out}, 4)
         AS mean_byte
FROM g ORDER BY asset_id
"""


MULTIMODAL_QUERIES["mm_resize"] = (mm_resize_query, _mm_resize_sql())


# --------------------------------------------------------------------------
# Audio: windowed RMS loudness over (stub-)decoded PCM
# --------------------------------------------------------------------------

PCM_WIN = 256  #: samples per loudness window


def audio_window_rms(assets: DataFrame, win: int = PCM_WIN) -> DataFrame:
    """Per-window RMS loudness of an audio payload — the
    silence-trim / clipping-detect pass of an audio training pipeline.
    The codec stub treats payload bytes as unsigned 8-bit PCM centered
    at 128 (deterministic; swap for a real decoder at deployment — the
    windowing, fan-out schema, and Arrow batch shape are the real
    thing).  1→many fan-out like frame sampling; vectorized numpy per
    asset; RMS = sqrt(Σs²/n) is exact-integer sums under one IEEE
    sqrt — byte-exact oracle."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wins, ns, rms = [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                buf = b"" if payload is None else bytes(payload)
                if not buf:
                    continue
                s = np.frombuffer(buf, dtype=np.uint8).astype(np.int64) - 128
                for w in range(0, (len(s) + win - 1) // win):
                    seg = s[w * win : (w + 1) * win]
                    ids.append(int(aid))
                    wins.append(w)
                    ns.append(len(seg))
                    rms.append(
                        round(float(np.sqrt((seg * seg).sum() / len(seg))), 6)
                    )
            yield pd.DataFrame(
                {"asset_id": ids, "win": wins, "n_samples": ns, "rms_r": rms}
            )

    return assets.select("asset_id", "payload").mapInPandas(
        op, "asset_id long, win int, n_samples int, rms_r double"
    )


def mm_audio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return audio_window_rms(attach_binary_payload(docs)).orderBy(
        "asset_id", "win"
    )


def _mm_audio_sql() -> str:
    return f"""
WITH h AS (
  SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0
),
w AS (
  SELECT asset_id, hx, n,
         unnest(range(0, (n + {PCM_WIN - 1}) // {PCM_WIN})) AS win
  FROM h
),
seg AS (
  SELECT asset_id, CAST(win AS INT) AS win,
         CAST(least(n, (win + 1) * {PCM_WIN}) - win * {PCM_WIN} AS INT)
           AS n_samples,
         list_reduce(list_prepend(0, list_transform(
           range(win * {PCM_WIN}, least(n, (win + 1) * {PCM_WIN})),
           i -> (('0x' || substr(hx, 2*i + 1, 2))::BIGINT - 128)
                * (('0x' || substr(hx, 2*i + 1, 2))::BIGINT - 128))),
           (acc, x) -> acc + x) AS ss
  FROM w
)
SELECT asset_id, win, n_samples,
       round(sqrt(CAST(ss AS DOUBLE) / n_samples), 6) AS rms_r
FROM seg ORDER BY asset_id, win
"""


MULTIMODAL_QUERIES["mm_audio_rms"] = (mm_audio_query, _mm_audio_sql())


# --------------------------------------------------------------------------
# Perceptual image hash (aHash) + banded near-dup pairs — multimodal dedup
# --------------------------------------------------------------------------

PHASH_MAX_HAMMING = 6  #: pairs at or below this distance are near-dups


def ahash_assets(assets: DataFrame, out_side: int = OUT_SIDE) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint per image asset: the
    resized ``out_side²`` thumbnail is thresholded at its own mean
    (bit p = 1 iff 64·pixel_p > Σpixels — integer-exact, no float mean)
    and packed into one 64-bit word.  The standard cheap perceptual
    image signature (same family as pHash/dHash); the decode stub is
    the documented deterministic byte-grid fake — swap in a real codec
    at the same Arrow batch boundary as ``resize_assets``.

    Output: (asset_id, hash int64, b0..b3 16-bit band keys) — the band
    columns feed the SimHash-style banded bucket join in
    :func:`phash_near_pairs`.  Pigeonhole: with 4 bands, hamming ≤ 3 is
    GUARANTEED to share an identical band; at the default threshold 6
    the banding is a high-recall heuristic (a pair could spread 4+ of
    its ≤6 differing bits across all four bands) — stated honestly, and
    the ORACLE applies the identical candidate rule, so the checked
    semantics are exactly what the operator claims."""
    import numpy as np

    th = resize_assets(assets, out_side=out_side)
    n_px = out_side * out_side

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for aid, thumb in zip(pdf["asset_id"], pdf["thumb"]):
                px = np.frombuffer(bytes(thumb), dtype=np.uint8).astype(
                    np.int64
                )
                if len(px) != n_px:
                    continue
                total = int(px.sum())
                bits = (px * n_px) > total
                h = np.uint64(0)
                for b in bits:
                    h = np.uint64(h << np.uint64(1)) | np.uint64(int(b))
                ids.append(int(aid))
                hs.append(np.int64(h.astype(np.int64)))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "hash": pd.Series(hs, dtype="int64"),
                }
            )

    if n_px > 64:
        raise ValueError(
            f"ahash packs out_side^2 bits into one 64-bit word; "
            f"out_side={out_side} needs {n_px}"
        )
    hashed = th.select("asset_id", "thumb").mapInPandas(
        op, "asset_id long, hash long"
    )
    # band keys MASK (bitwiseAND), never %: Spark's % is sign-following,
    # so a hash with bit 63 set would get a NEGATIVE top-band key that
    # can never equal a positive key sharing the same 16 bits — silently
    # losing candidates (same discipline as dedup.simhash_pairs)
    bands = [
        F.shiftrightunsigned(F.col("hash"), 16 * i)
        .bitwiseAND(F.lit(0xFFFF))
        .cast("long")
        .alias(f"b{i}")
        for i in range(4)
    ]
    return hashed.select("asset_id", "hash", *bands)


def phash_near_pairs(
    assets: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-duplicate image pairs by perceptual hash: banded candidate
    join (4 × 16-bit bands — candidates must share a band, never the
    n² cross product) + exact Hamming verification via
    ``bit_count(xor)`` — pure integer Catalyst expressions."""
    # the dedup.simhash_pairs band-join shape: explode (k, band) structs
    # and join ONCE on (k, band) — one compiled pipeline instead of a
    # 4-branch union; Hamming filter BEFORE the distinct (the filter is
    # a codegen'd map-side predicate, the distinct is a shuffle — never
    # shuffle rows a predicate would drop)
    h = ahash_assets(assets).localCheckpoint(eager=True)
    bands = h.select(
        "asset_id",
        "hash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"b{k}").alias("band")
                    )
                    for k in range(4)
                ]
            )
        ).alias("e"),
    ).select("asset_id", "hash", "e.k", "e.band")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("a_id"),
            F.col("b.asset_id").alias("b_id"),
            F.bit_count(
                F.col("a.hash").bitwiseXOR(F.col("b.hash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def mm_phash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return phash_near_pairs(attach_binary_payload(docs)).orderBy(
        "a_id", "b_id"
    )


def _mm_phash_sql() -> str:
    """DuckDB twin of the aHash band pipeline.

    ASCII-only assumption (shared with the ``mm_resize`` oracle): the
    oracle derives "pixels" with character-based ``length(text)`` /
    ``substring`` / ``ascii``, while the Spark side hashes UTF-8 BYTES of
    the payload (``attach_binary_payload`` uses ``encode(text, 'UTF-8')``)
    — identical only while octet == codepoint, which holds for the
    synthetic corpus (verified ASCII).  A multibyte corpus would need the
    oracle grid rebuilt over ``encode(text)`` byte semantics."""
    out = OUT_SIDE
    n_px = out * out
    picks = (
        f"list_transform(generate_series(0, {n_px - 1}), "
        f"p -> ascii(substring(text, ((p // {out}) * side // {out}) * side "
        f"+ ((p % {out}) * side // {out}) + 1, 1)))"
    )
    # band i = bits [i*16, i*16+16) packed big-endian like the Spark side
    band = (
        "list_sum(list_transform(generate_series(1, 16), "
        "j -> CASE WHEN px[{off} + j] * {n_px} > s THEN "
        "CAST(2 ** (16 - j) AS BIGINT) ELSE 0 END))"
    )
    bands = ", ".join(
        band.format(off=48 - 16 * i, n_px=n_px) + f" AS b{i}"
        for i in range(4)
    )
    return f"""
WITH a AS (
  SELECT doc_id AS asset_id, text,
         CAST(floor(sqrt(length(text))) AS INT) AS side
  FROM documents WHERE CAST(floor(sqrt(length(text))) AS INT) >= 1
),
g AS (SELECT asset_id, {picks} AS px FROM a),
gs AS (
  SELECT asset_id, px, list_sum(px) AS s FROM g
  WHERE len(px) = {n_px}
),
hb AS (SELECT asset_id, px, s, {bands} FROM gs),
cand AS (
  SELECT x.asset_id AS a_id, y.asset_id AS b_id,
         x.px AS apx, x.s AS asum, y.px AS bpx, y.s AS bsum
  FROM hb x JOIN hb y
    ON x.asset_id < y.asset_id
   AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
),
ham AS (
  SELECT a_id, b_id,
         CAST(list_sum(list_transform(generate_series(1, {n_px}),
           p -> CASE WHEN (apx[p] * {n_px} > asum)
                       != (bpx[p] * {n_px} > bsum)
                THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM cand
)
SELECT a_id, b_id, hamming FROM ham
WHERE hamming <= {PHASH_MAX_HAMMING}
ORDER BY a_id, b_id
"""


MULTIMODAL_QUERIES["mm_phash_pairs"] = (mm_phash_query, _mm_phash_sql())
