"""LLM-data-pipeline query catalog: dedup, similarity search, text
analysis — each with a bit-for-bit DuckDB oracle.

Tokenization parity contract (Spark <-> DuckDB):
  Spark  : split(lower(trim(text)), '\\s+')
  DuckDB : string_split_regex(lower(trim(text)), '\\s+')
Hash parity: 60-bit md5-prefix integers (dedup.hash60 / hash60_sql).

The dedup queries run on ``documents`` unioned with a shifted-id copy
of itself — the testdata has no organic exact duplicates, so the
synthetic copies make every dedup check non-vacuous (each digest must
collapse exactly two rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petastorm_spark.queries import _t, _t_wide, register

_COPY_SHIFT = 100_000

# appended-tail mutation shared by the keep-best and incremental
# near-dup fixtures: exact-dup-invisible, shingle-visible
_TAIL = " extra appended tail tokens"

# DuckDB token expression (parity with operators.text.tokens)
_TOK = "string_split_regex(lower(trim(text)), '\\s+')"

# md5 fraction keyed as sample_stratified(seed=0, key=doc_id) computes
# it: fraction of md5("0|<doc_id>") (parity with predicates.md5_fraction)
_FRAC_DOC = (
    "(('0x'||substr(md5('0|' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT"
    " / 1152921504606846976.0)"
)


def _docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.select((F.col("doc_id") + _COPY_SHIFT).alias("doc_id"), "text")
    return d.unionByName(copy)


_DOCS_CTE = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id, text FROM documents)
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=_DOCS_CTE
    + """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM d GROUP BY digest
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 digest -> keep lowest id. Every group must have
    exactly 2 copies (the synthetic duplicate). Scale: one shuffle on
    the digest; at 100 TB use sha2-256 to make collisions negligible."""
    from petastorm_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs_with_copies(spark, sf_dir), "text", "doc_id")


def _minhash_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from petastorm_spark.operators.dedup import MINHASH_MOD, cw_hash_pair_sql

    h1, h2 = cw_hash_pair_sql("sh")
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({h1} + {s} * {h2}) % {MINHASH_MOD}) AS mh_{s}"
        for s in range(num_hashes)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(
            f"mh_{b * rows + r}::VARCHAR" for r in range(rows)
        )
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return (
        _DOCS_CTE
        + f""",
    tok AS (SELECT doc_id, {_TOK} AS t FROM d),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
           FROM tok WHERE len(t) >= 3),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands of 4): near-dup candidate pairs. The
    500 synthetic copy pairs must all surface (identical signatures
    collide in every band). Scale: signatures are a pure map; the
    bucket self-join replaces all-pairs comparison."""
    from petastorm_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = _docs_with_copies(spark, sf_dir)
    sig = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_n=3)
    return lsh_candidate_pairs(sig, "doc_id", num_hashes=16, bands=4)


def _simhash_oracle(bits: int = 60) -> str:
    from petastorm_spark.operators.dedup import hash60_sql

    return f"""
    WITH tok AS (SELECT doc_id,
                        unnest(list_distinct({_TOK})) AS tok
                 FROM documents),
    h AS (SELECT doc_id, {hash60_sql('tok')} AS h FROM tok),
    bits AS (SELECT doc_id, bb.b AS b,
                    sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h, (SELECT unnest(range({bits})) AS b) bb
             GROUP BY doc_id, bb.b)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (near-dup fingerprint; hamming
    distance <= 3 would be the dup criterion). Scale: pure map + one
    agg, no blowup — the 60 vote columns ride one shuffle."""
    from petastorm_spark.operators.dedup import simhash

    return simhash(_t_wide(spark, sf_dir, "documents"), "text", "doc_id", bits=60)


def _simhash_pairs_oracle(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    from petastorm_spark.operators.dedup import hash60_sql

    width = bits // bands
    mask = (1 << width) - 1
    return (
        _DOCS_CTE
        + f""",
    tok AS (SELECT doc_id, unnest(list_distinct({_TOK})) AS tok FROM d),
    h AS (SELECT doc_id, {hash60_sql('tok')} AS h FROM tok),
    bits AS (SELECT doc_id, bb.b AS b,
                    sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h, (SELECT unnest(range({bits})) AS b) bb
             GROUP BY doc_id, bb.b),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, bb.b AS band,
                     (simhash >> (bb.b * {width})) & {mask} AS val
              FROM sig, (SELECT unnest(range({bands})) AS b) bb),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """
    )


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (hamming <= 3) via banded self-join on
    15-bit fingerprint bands — pigeonhole-exact for distance < 4. The
    500 synthetic copies surface at hamming 0. Scale: same shape as
    MinHash LSH (explode -> bucket join -> cheap verify), no all-pairs."""
    from petastorm_spark.operators.dedup import simhash_dup_pairs

    return simhash_dup_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        bits=60, bands=4, max_hamming=3,
    )


_MM_SHIFT = 10**11
# The multimodal fixtures derive content from doc_id, so their copy
# shift must NOT divide the scaling study's replica shift (1e9): with
# the text family's 100k shift every sf1 replica would collide onto the
# same md5 grid and the pair count would measure fixture multiplicity,
# not the plan. 1e11 > any replicated id, so d = doc_id stays unique
# per replica and output grows linearly.


def _image_dhash_oracle(bands: int = 4, max_hamming: int = 3) -> str:
    """The dHash math in pure integer SQL: the synthetic image is a
    6x11 grayscale grid whose pixel k (row-major) is byte ``k % 16``
    of ``md5(d || '_' || k // 16)`` (d = doc_id % shift, shared by a
    doc and its copy; copies of every 5th doc perturb pixel (0,0) by
    +13 mod 256 — a <=1-bit hamming tweak). md5 bytes carry NO
    per-doc affine structure — every closed-form arithmetic draft
    (affine, multiplicative, LCG) left pixel-to-pixel deltas constant
    per doc, and brightness-invariant dHash collided corpus-wide
    (34k/4k/27k pairs measured). The grid shape equals the dHash
    resize target, so the resize is the identity and every bit is an
    exact integer comparison both engines compute identically."""
    width = 60 // bands
    mask = (1 << width) - 1

    def pix(y: int, x: int) -> str:
        k = y * 11 + x
        chunk, byte = k // 16, k % 16
        base = (
            f"(('0x' || substr(md5((doc_id % {_MM_SHIFT})::VARCHAR "
            f"|| '_{chunk}'), {2 * byte + 1}, 2))::INT)"
        )
        if y == 0 and x == 0:
            return (
                f"(CASE WHEN doc_id >= {_MM_SHIFT} AND "
                f"(doc_id % {_MM_SHIFT}) % 5 = 0 "
                f"THEN ({base} + 13) % 251 ELSE {base} END)"
            )
        return base

    terms = " + ".join(
        f"(CASE WHEN {pix(y, x)} < {pix(y, x + 1)} "
        f"THEN (1::BIGINT << {59 - (y * 10 + x)}) ELSE 0::BIGINT END)"
        for y in range(6) for x in range(10)
    )
    return f"""
    WITH ids AS (SELECT doc_id FROM documents
                 UNION ALL
                 SELECT doc_id + {_MM_SHIFT} FROM documents),
    sig AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM ids),
    bands AS (SELECT doc_id, simhash, bb.b AS band,
                     (simhash >> (bb.b * {width})) & {mask} AS val
              FROM sig, (SELECT unnest(range({bands})) AS b) bb),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


@register("image_dhash_pairs", oracle=_image_dhash_oracle())
def image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: perceptual dHash over an IMAGE binary
    column + the text-SimHash banded self-join — the full multimodal
    plumbing (binary column -> decode_image_bytes -> dhash60 ->
    banded pairs) runs for real; only the camera is fake. Images are
    deterministic 6x11 RAW0 grids derived from doc_id (the mandated
    deterministic stand-in for the absent image libs), a doc and its
    copy share the grid (hamming 0), and copies of every 5th doc get
    a one-pixel perturbation (hamming <= 1) — so the oracle, which
    re-derives every pixel in closed-form integer SQL, checks the
    decode + hash + banding pipeline end to end. Scale: pure map to
    60-bit fingerprints, then the pigeonhole-banded join — never
    quadratic, identical shape to dedup_simhash_pairs."""
    from petastorm_spark.operators.multimodal import (
        encode_fake_image,
        image_dup_pairs,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    both = ids.unionByName(
        ids.select((F.col("doc_id") + _MM_SHIFT).alias("doc_id"))
    )

    def image(did: int) -> bytes:
        d = did % _MM_SHIFT
        p = _md5_values(d, "", 5).ravel()[:66].reshape(6, 11)
        if did >= _MM_SHIFT and d % 5 == 0:
            p[0, 0] = (p[0, 0] + 13) % 251
        return encode_fake_image(p.astype("uint8"))

    imgs = _blob_column(both, "image", image)
    return image_dup_pairs(imgs, "image", "doc_id", max_hamming=3, bands=4)


def _envelope_oracle(tag: str, square: bool, bands: int = 4,
                     max_hamming: int = 3) -> str:
    """The 61-point envelope fingerprints (audio RMS / video frame
    mean) in pure integer SQL. Both kernels compare consecutive
    61-window aggregates of 16 md5-derived values; with window width
    16 (a power of two) every float64 step in the numpy kernel —
    value/2^15, square, pairwise sum, /16, sqrt — is exactly dyadic,
    so env[i] < env[i+1] is EQUIVALENT to comparing the integer
    window sums (of squares for audio, raw for video) the oracle
    computes. ``tag`` is the md5 key infix ('w' audio windows, 'f'
    video frames); copies of every 5th doc perturb value 0 of window
    0 by +50 mod 256 (a <=1-bit tweak, bit 0 only)."""
    width = 60 // bands
    mask = (1 << width) - 1

    def byte(b: int) -> str:
        e = (
            f"(('0x' || substr(md5((ids.doc_id % {_MM_SHIFT})::VARCHAR "
            f"|| '_{tag}' || w.w::VARCHAR), {2 * b + 1}, 2))::BIGINT)"
        )
        if b == 0:
            e = (
                f"(CASE WHEN w.w = 0 AND ids.doc_id >= {_MM_SHIFT} AND "
                f"(ids.doc_id % {_MM_SHIFT}) % 5 = 0 "
                f"THEN (({e} + 50) % 256) ELSE {e} END)"
            )
        return f"({e} * {e})" if square else e

    terms = " + ".join(byte(b) for b in range(16))
    return f"""
    WITH ids AS (SELECT doc_id FROM documents
                 UNION ALL
                 SELECT doc_id + {_MM_SHIFT} FROM documents),
    win AS (SELECT ids.doc_id, w.w, ({terms}) AS s
            FROM ids, (SELECT unnest(range(61)) AS w) w),
    env AS (SELECT doc_id, w, s,
                   lead(s) OVER (PARTITION BY doc_id ORDER BY w) AS s2
            FROM win),
    sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s < s2
                            THEN (1::BIGINT << (59 - w)) ELSE 0::BIGINT END)
                        AS BIGINT) AS simhash
            FROM env WHERE w < 60 GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, bb.b AS band,
                     (simhash >> (bb.b * {width})) & {mask} AS val
              FROM sig, (SELECT unnest(range({bands})) AS b) bb),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _spread_ids(df: DataFrame) -> DataFrame:
    """Round-robin the metadata-sized id table across the cluster
    before a compute-bound Python synthesis/decode map. The documents
    table reads as a SINGLE scan split at bench SF (one small parquet
    file), so without this every downstream Python kernel of the
    multimodal queries ran as one task on one core. The exchange moves
    only ids (8 B/row — §8 decide-with-small-rows; §2.6 idle
    capacity); the partition count is defaultParallelism, i.e. the
    cluster's core count at any scale, the right width for a map whose
    cost is per-row CPU, not bytes. Applied ONLY where the kernel is
    genuinely heavy (audio: 61 md5 digests + WAV encode/decode + RMS
    envelope per row; video: 61-frame fingerprint) — A/B measured
    audio_dup_pairs 4.08 -> 2.39 s, video_dup_pairs 3.67 -> 2.23 s,
    while the CHEAP kernels (RAW0 image grids, meta extraction,
    silence spans) LOSE 0.2-0.5 s to the extra exchange + stage at
    bench SF, so those keep the scan's own parallelism."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _blob_column(ids: DataFrame, out_col: str, make) -> DataFrame:
    """(doc_id, out_col): the synthetic blob ``make(doc_id)`` of every
    id, built by one per-row Python UDF that receives only the id."""
    from petastorm_spark.operators.multimodal import row_udf

    blob = row_udf(make, "binary")("doc_id").alias(out_col)
    return ids.select("doc_id", blob)


def _md5_video(d: int) -> bytes:
    """RAW0 (T, 2, 2) video of doc ``d``: T = 13 + d % 7 frames, frame
    t's pixels the first 4 md5 bytes of f"{d}_v{t}" — the fixture the
    frame-sample and shot-boundary oracles re-derive in SQL."""
    import hashlib

    from petastorm_spark.operators.multimodal import encode_fake_image

    frames = np.stack(
        [
            np.frombuffer(
                hashlib.md5(f"{d}_v{t}".encode()).digest()[:4], dtype=np.uint8
            ).reshape(2, 2)
            for t in range(13 + d % 7)
        ]
    )
    return encode_fake_image(frames)


def _md5_values(doc_key: int, tag: str, n_chunks: int):
    """n_chunks x 16 uint8 grid: chunk c's 16 values are the md5
    digest bytes of f"{doc_key}_{tag}{c}" — the closed form the
    envelope oracles re-derive with substr(md5(...)) in SQL."""
    import hashlib

    import numpy as np

    digest = b"".join(
        hashlib.md5(f"{doc_key}_{tag}{c}".encode()).digest()
        for c in range(n_chunks)
    )
    return np.frombuffer(digest, dtype=np.uint8).astype(np.int64).reshape(
        n_chunks, 16
    )


@register("audio_dup_pairs", oracle=_envelope_oracle("w", square=True))
def audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup, audio leg: REAL RIFF/PCM WAV blobs (the
    pure-python writer/parser pair) -> channel-mean -> 61-window RMS
    energy envelope -> 60-bit fingerprint -> the shared pigeonhole
    banded self-join. Each doc's 976-frame mono int16 clip derives
    from md5 bytes (16 samples per envelope window), its copy
    (doc_id + 100k) is byte-identical (hamming 0), and copies of
    every 5th doc perturb sample 0 by +50 mod 256 (hamming <= 1).
    Window width 16 keeps the RMS math exactly dyadic, so the oracle
    compares integer sums of squares — decode, envelope, fingerprint
    and banding all check hash-exact. Scale: pure map to 60-bit
    fingerprints + banded join, identical shape to the text/image
    legs."""
    from petastorm_spark.operators.audio import (
        audio_dup_pairs as _pairs,
        encode_wav,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    both = ids.unionByName(
        ids.select((F.col("doc_id") + _MM_SHIFT).alias("doc_id"))
    )

    def clip(did: int) -> bytes:
        d = did % _MM_SHIFT
        s = _md5_values(d, "w", 61).ravel()
        if did >= _MM_SHIFT and d % 5 == 0:
            s[0] = (s[0] + 50) % 256
        return encode_wav(s.astype("int16"), 16000)

    wavs = _blob_column(_spread_ids(both), "audio", clip)
    return _pairs(wavs, "audio", "doc_id", max_hamming=3, bands=4)


@register("video_dup_pairs", oracle=_envelope_oracle("f", square=False))
def video_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup, video leg: RAW0 (61, 4, 4) grayscale
    'videos' -> per-frame mean brightness -> 60-bit temporal
    fingerprint -> the shared banded self-join. Frame t's 16 pixels
    are the md5 bytes of f"{{d}}_f{{t}}"; a doc and its copy share
    the clip (hamming 0) and copies of every 5th doc perturb frame
    0's first pixel (hamming <= 1). T=61 makes the kernel's 61-point
    block resample the identity and the 16-pixel frame mean exactly
    dyadic, so the oracle compares integer frame sums. Scale: pure
    map + banded join, never quadratic."""
    from petastorm_spark.operators.multimodal import (
        encode_fake_image,
        video_dup_pairs as _pairs,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    both = ids.unionByName(
        ids.select((F.col("doc_id") + _MM_SHIFT).alias("doc_id"))
    )

    def video(did: int) -> bytes:
        d = did % _MM_SHIFT
        p = _md5_values(d, "f", 61).reshape(61, 4, 4)
        if did >= _MM_SHIFT and d % 5 == 0:
            p[0, 0, 0] = (p[0, 0, 0] + 50) % 256
        return encode_fake_image(p.astype("uint8"))

    vids = _blob_column(_spread_ids(both), "video", video)
    return _pairs(vids, "video", "doc_id", max_hamming=3, bands=4)


@register(
    "audio_meta_stats",
    oracle=f"""
    WITH m AS (SELECT 1 + (doc_id % 2) AS channels,
                      CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
                           ELSE 16000 END AS BIGINT) AS sample_rate,
                      160 + (doc_id % 41) * 16 AS n_frames
               FROM documents)
    SELECT channels, sample_rate,
           COUNT(*) AS n_clips,
           CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
           round(CAST(SUM(n_frames) AS DOUBLE)
                 / (sample_rate * COUNT(*)), 6) AS avg_sec
    FROM m GROUP BY channels, sample_rate
    ORDER BY channels, sample_rate
    """,
)
def audio_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata extraction over an audio binary column: REAL
    RIFF/PCM WAV blobs (mono AND stereo, 8 kHz and 16 kHz, variable
    length — all doc_id-derived) round-trip through encode_wav ->
    with_audio_meta's chunk-walking parser, then aggregate per
    (channels, rate). The oracle re-derives frames/channels/rate in
    closed form, so the container writer+parser pair is what's being
    checked. Scale: per-row Python UDF maps + one partial-agg groupBy
    over a 4-row key space."""
    from petastorm_spark.operators.audio import encode_wav, with_audio_meta

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def clip(d: int) -> bytes:
        n = 160 + (d % 41) * 16
        ch = 1 + (d % 2)
        rate = 8000 if d % 3 == 0 else 16000
        return encode_wav(np.full((n, ch), d % 128, dtype=np.int16), rate)

    wavs = _blob_column(ids, "audio", clip)
    m = with_audio_meta(wavs, "audio").select("audio_meta.*")
    return (
        m.groupBy(
            F.col("channels").cast("long").alias("channels"),
            F.col("sample_rate").cast("long").alias("sample_rate"),
        )
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_frames").alias("sum_frames"),
            F.round(
                F.sum("n_frames").cast("double")
                / (F.col("sample_rate") * F.count("*")),
                6,
            ).alias("avg_sec"),
        )
        .orderBy("channels", "sample_rate")
    )


@register(
    "image_meta_stats",
    oracle="""
    WITH m AS (SELECT 8 + (doc_id % 5) AS height,
                      8 + (doc_id % 7) AS width
               FROM documents)
    SELECT height, width, COUNT(*) AS n_images,
           CAST(SUM(height * width) AS BIGINT) AS sum_pixels,
           'png' AS fmt
    FROM m GROUP BY height, width ORDER BY height, width
    """,
)
def image_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata extraction over an image binary column holding
    REAL PNG byte streams: the pure-python zlib PNG encoder writes
    variable-shape grayscale images, with_image_meta's decoder reads
    the shape back, and the aggregate is checked against the closed
    form — the encode->decode pair is the system under test (the
    RAW0 path is covered by the dup-pair queries). The fmt column
    pins that the PNG signature route, not RAW0, decoded the blobs.
    Scale: per-row Python UDF maps + a 35-key partial-agg groupBy."""
    from petastorm_spark.functions.pure_png import png_encode
    from petastorm_spark.operators.multimodal import with_image_meta

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def image(d: int) -> bytes:
        h, w = 8 + d % 5, 8 + d % 7
        return png_encode(np.full((h, w), d % 251, dtype=np.uint8))

    imgs = _blob_column(ids, "image", image)
    m = with_image_meta(imgs, "image").select("image_meta.*")
    return (
        m.groupBy(
            F.col("height").cast("long").alias("height"),
            F.col("width").cast("long").alias("width"),
        )
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("height") * F.col("width")).alias("sum_pixels"),
            F.max("format").alias("fmt"),
        )
        .orderBy("height", "width")
    )


@register(
    "image_resize_pipeline",
    oracle=f"""
    WITH px AS (
      SELECT doc_id, ij.i, ij.j,
             ((ij.i * (6 + doc_id % 3)) // 4) * (12 + doc_id % 5)
             + ((ij.j * (12 + doc_id % 5)) // 4) AS k
      FROM documents,
           (SELECT a.i, b.j
            FROM (SELECT unnest(range(4)) AS i) a,
                 (SELECT unnest(range(4)) AS j) b) ij
    )
    SELECT doc_id,
           CAST(SUM(('0x' || substr(
                md5(doc_id::VARCHAR || '_r' || (k // 16)::VARCHAR),
                2 * (k % 16) + 1, 2))::BIGINT) AS BIGINT) AS resized_sum
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def image_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode -> transform -> re-encode kernel end to end on REAL
    PNG containers: variable-shape md5-pixel images are zlib-PNG
    encoded, resize_images nearest-neighbors them to 4x4 (PNG in ->
    PNG out), and a second decode sums the surviving pixels. The
    oracle re-derives the nearest-neighbor source index
    (i*H//4, j*W//4) and the md5 byte at that position in closed
    form — two full pure-python PNG round trips per row are what the
    hash checks. Scale: per-row Python UDF maps, no shuffle until the
    final per-doc row."""
    from petastorm_spark.functions.pure_png import png_decode, png_encode
    from petastorm_spark.operators.multimodal import resize_images, row_udf

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def image(d: int) -> bytes:
        h, w = 6 + d % 3, 12 + d % 5
        img = _md5_values(d, "r", 8).ravel()[: h * w].reshape(h, w)
        return png_encode(img.astype("uint8"))

    small = resize_images(_blob_column(ids, "image", image), "image", "small", (4, 4))

    def pixel_sum(raw: bytes) -> int:
        return int(png_decode(raw).astype(np.int64).sum())

    resized_sum = row_udf(pixel_sum, "bigint")("small").alias("resized_sum")
    return small.select("doc_id", resized_sum).orderBy("doc_id")


@register(
    "video_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, t.t
      FROM documents, (SELECT unnest(range(20)) AS t) t
      WHERE t.t % 3 = 0 AND t.t < 13 + doc_id % 7
    ),
    vals AS (
      SELECT doc_id, f.t, b.b,
             ('0x' || substr(md5(doc_id::VARCHAR || '_v' || f.t::VARCHAR),
                             2 * b.b + 1, 2))::BIGINT AS val
      FROM frames f, (SELECT unnest(range(4)) AS b) b
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS n_kept,
           CAST(SUM(val) AS BIGINT) AS frame_sum
    FROM vals GROUP BY doc_id ORDER BY doc_id
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling end to end: variable-length (T, 2, 2) RAW0
    videos (T = 13 + doc_id%7, frame t's pixels = the first 4 md5
    bytes of f"{{d}}_v{{t}}") pass through frame_sample_video
    (every 3rd frame) and a decode stage counts and sums the kept
    frames. The oracle enumerates t in 0,3,6,... < T in SQL — the
    ffmpeg-shaped sampling kernel's stride arithmetic is what's
    checked. Scale: per-row Python UDF maps."""
    from petastorm_spark.operators.multimodal import (
        decode_image_bytes,
        frame_sample_video,
        row_udf,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    vids = _blob_column(ids, "video", _md5_video)
    sampled = frame_sample_video(vids, "video", "kept", every_nth=3)

    def kept(raw: bytes) -> tuple:
        arr, _ = decode_image_bytes(raw)
        return arr.shape[0], int(arr.astype(np.int64).sum())

    udf = row_udf(kept, "n_kept bigint, frame_sum bigint")
    return (
        sampled.select("doc_id", udf("kept").alias("k"))
        .select("doc_id", "k.*")
        .orderBy("doc_id")
    )


@register(
    "winnowing_matches",
    oracle=_DOCS_CTE
    + f""",
    tok AS (SELECT doc_id, {_TOK} AS t FROM d),
    kg AS (
      SELECT doc_id, i AS pos,
             (('0x'||substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]),
                            1, 15))::BIGINT) AS h,
             len(t) - 2 AS n
      FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
            FROM tok WHERE len(t) >= 3)
    ),
    sel0 AS (
      SELECT a.doc_id, a.pos AS start,
             min(b.h * 4 + (3 - (b.pos - a.pos))) AS key
      FROM kg a JOIN kg b
        ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos AND a.pos + 3
      WHERE a.pos <= a.n - 4
      GROUP BY a.doc_id, a.pos
    ),
    sel AS (SELECT DISTINCT doc_id, key // 4 AS fp FROM sel0),
    dfc AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 10),
    r AS (SELECT s.doc_id, s.fp FROM sel s JOIN dfc USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 5
    """,
)
def winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing / MOSS match report: documents sharing >= 5 selected
    fingerprints, where each fingerprint is the rightmost-min k-gram
    hash of a 4-hash sliding window — any shared substring of >= 6
    tokens is guaranteed to surface, at ~2/(w+1) of the full k-gram
    index size. The oracle encodes the rightmost-tie rule as one
    integer min (hash*4 + (3 - offset)); the Spark side is a struct
    min over a row frame — same selection, zero ranking passes. See
    operators/dedup.winnowing_matches for the df-cap scale argument."""
    from petastorm_spark.operators.dedup import winnowing_matches as wm

    return wm(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        k=3, w=4, min_shared=5, max_df=10,
    )


@register(
    "dedup_jaccard_pairs",
    oracle=_DOCS_CTE
    + f""",
    tok AS (SELECT doc_id, {_TOK} AS t FROM d),
    sh0 AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
            FROM tok WHERE len(t) >= 3),
    sh AS (SELECT doc_id,
                  (('0x'||substr(md5(s),1,15))::BIGINT) AS sh
           FROM sh0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY id_a, id_b)
    SELECT id_a, id_b,
           round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.8
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-shingle Jaccard >= 0.8 near-dup pairs, EXACT, scale-adaptive:
    a hash60-keyed postings-count join while sum(df^2) fits the
    per-core budget (this fixture), flipping to prefix-filtered
    inverted indexing (PPJoin) in the hub regime. The 500 copy pairs
    score exactly 1.0. See operators/dedup.jaccard_pairs."""
    from petastorm_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id", shingle_n=3, threshold=0.8
    )


@register(
    "dedup_substring_windows",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    occ AS (SELECT doc_id,
                   (('0x'||substr(md5(array_to_string(t[i : i+3], ' ')),1,15))::BIGINT) AS h
            FROM tok, unnest(range(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 4),
    cnt AS (SELECT doc_id, h, count(*) AS c FROM occ GROUP BY 1, 2),
    tot AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY h) AS total FROM cnt)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_windows,
           floor(sum(CASE WHEN total > 1 THEN c ELSE 0 END) * 1.0 / sum(c) * 10000)
             / 10000 AS dup_window_frac
    FROM tot GROUP BY doc_id
    """,
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication signal (Lee et al. 2022): per doc,
    the fraction of 4-token windows whose exact text occurs more than
    once anywhere in the corpus — span-level duplication that document-
    level MinHash/SimHash misses. Runs on the RAW documents table (the
    organic 4-gram collisions are the signal; synthetic copies would
    saturate every doc at 1.0). Scale: windows shuffle as 60-bit
    md5-prefix ints, never text — see operators/dedup.py."""
    from petastorm_spark.operators.dedup import substring_dup_signals

    return substring_dup_signals(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", k=4
    )


def _lsh_cand_ctes(num_hashes: int = 16, bands: int = 4) -> str:
    """The shared MinHash+LSH candidate-pair CTE chain (tok -> sets ->
    sh -> sig -> bands -> cand) over a docs CTE named ``d``."""
    from petastorm_spark.operators.dedup import MINHASH_MOD, cw_hash_pair_sql

    h1, h2 = cw_hash_pair_sql("sh")
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({h1} + {s} * {h2}) % {MINHASH_MOD}) AS mh_{s}"
        for s in range(num_hashes)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    return f""",
    tok AS (SELECT doc_id, {_TOK} AS t FROM d),
    sets AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM tok WHERE len(t) >= 3),
    sh AS (SELECT doc_id, unnest(s) AS sh FROM sets),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""


def _near_dup_oracle(threshold: float = 0.8, num_hashes: int = 16, bands: int = 4,
                     measure: str = "jaccard") -> str:
    inter = "len(list_intersect(sa.s, sb.s))"
    if measure == "jaccard":
        m = f"{inter} * 1.0 / (len(sa.s) + len(sb.s) - {inter})"
    else:
        m = f"{inter} * 1.0 / least(len(sa.s), len(sb.s))"
    return (
        _DOCS_CTE
        + _lsh_cand_ctes(num_hashes, bands)
        + f"""
    SELECT id_a, id_b,
           round({m}, 4) AS {measure}
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
    WHERE {m} >= {threshold}
    """
    )


# Copies with the FIRST TOKEN replaced: exact-dup-invisible,
# edit-distance-visible mutations for the character-level near-dup
# query (regexp_replace is first-match in DuckDB and ^ anchors once,
# so both engines rewrite exactly one token).
_MUT_DOCS_CTE = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id,
                      regexp_replace(text, '^\\S+', 'zzz') AS text
               FROM documents)
"""


def _docs_with_mutated_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.select(
        (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    return d.unionByName(copy)


@register(
    "dedup_edit_pairs",
    oracle=_MUT_DOCS_CTE
    + _lsh_cand_ctes()
    + """
    SELECT id_a, id_b, levenshtein(ta.text, tb.text) AS edit_dist
    FROM cand
    JOIN d ta ON ta.doc_id = id_a
    JOIN d tb ON tb.doc_id = id_b
    WHERE levenshtein(ta.text, tb.text) <= 10
    """,
)
def dedup_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup: LSH candidates verified by bounded
    Levenshtein <= 10 — catches the mutated-first-token copies (edit
    distance 1-6) that exact dedup misses and whose shingle overlap
    stays LSH-visible. Scale: the quadratic distance only runs on
    candidate pairs via Spark's early-exit threshold variant."""
    from petastorm_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _docs_with_mutated_copies(spark, sf_dir), "text", "doc_id",
        max_dist=10, num_hashes=16, bands=4, shingle_n=3,
    ).withColumn("edit_dist", F.col("edit_dist").cast("bigint"))


def _incr_near_dup_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float = 0.5,
    old_where: str = "",
) -> str:
    from petastorm_spark.operators.dedup import MINHASH_MOD, cw_hash_pair_sql

    h1, h2 = cw_hash_pair_sql("sh")
    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({h1} + {s} * {h2}) % {MINHASH_MOD}) AS mh_{s}"
        for s in range(num_hashes)
    )

    def chain(sfx: str) -> str:
        band_rows = "\nUNION ALL\n".join(
            f"SELECT doc_id, {b} AS band, md5("
            + " || ',' || ".join(
                f"mh_{b * rows + r}::VARCHAR" for r in range(rows)
            )
            + f") AS bh FROM sig_{sfx}"
            for b in range(bands)
        )
        return f"""
    tok_{sfx} AS (SELECT doc_id, {_TOK} AS t FROM d_{sfx}),
    sets_{sfx} AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM tok_{sfx} WHERE len(t) >= 3),
    sh_{sfx} AS (SELECT doc_id, unnest(s) AS sh FROM sets_{sfx}),
    sig_{sfx} AS (SELECT doc_id, {mins} FROM sh_{sfx} GROUP BY doc_id),
    bands_{sfx} AS ({band_rows})"""

    agree = " + ".join(
        f"(sn.mh_{i} = so.mh_{i})::INT" for i in range(num_hashes)
    )
    return f"""
    WITH d_old AS (SELECT doc_id, text FROM documents{old_where}),
    d_new AS (SELECT doc_id + {_COPY_SHIFT} AS doc_id,
                     text || '{_TAIL}' AS text FROM documents),
    {chain("old").lstrip()},
    {chain("new").lstrip()},
    cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
             FROM bands_new n JOIN bands_old o
               ON n.band = o.band AND n.bh = o.bh)
    SELECT new_id, old_id,
           round(({agree}) / {num_hashes}.0, 4) AS est_jaccard
    FROM cand
    JOIN sig_new sn ON sn.doc_id = new_id
    JOIN sig_old so ON so.doc_id = old_id
    WHERE ({agree}) / {num_hashes}.0 >= {min_est}
    """


@register("incremental_near_dup", oracle=_incr_near_dup_oracle())
def incremental_near_dup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: a new document batch (every doc re-issued
    with an appended tail under a shifted id) deduped against the LSH
    signature index of the existing corpus — the production shape of
    near-dup on a growing corpus, batch-sized work against a persisted,
    shard-pruned bucket table (lsh_index_write/read; persistence +
    partition-pruning pinned by tests/test_llm_ops.py). Emits
    (new_id, old_id, est_jaccard) where est_jaccard is the MinHash
    agreement fraction, the unbiased Jaccard estimate. See
    operators/dedup.incremental_near_dup."""
    from petastorm_spark.operators.dedup import (
        incremental_near_dup,
        lsh_index_build,
    )

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    new = d.select(
        (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
    )
    buckets, sigs = lsh_index_build(d, "text", "doc_id")
    # this wrapper skips lsh_index_write (no files in a bench query),
    # so the lazy index would re-tokenize the corpus once for the
    # bucket probe AND once for the signature join; persisting the
    # signature table — the shared ancestor of both — is the
    # in-memory stand-in for the parquet index the production path
    # reads (r16 optimization; result set unchanged)
    from petastorm_spark.session import materialize

    sigs = materialize(sigs)
    return incremental_near_dup(
        new, buckets, sigs, "text", "doc_id", min_est=0.5
    )


@register(
    "incremental_dedup_tombstoned",
    oracle=_incr_near_dup_oracle(
        old_where=" WHERE doc_id % 7 <> 0"
    ),
)
def incremental_dedup_tombstoned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental near-dup against the LIVE view of an index with
    TOMBSTONES (r16: the LSM-style delete path behind global dedup in
    ``curate --incremental``): docs leaving the corpus are tombstoned
    (operators/dedup.lsh_index_tombstone) rather than rewritten out of
    the sharded bucket layout, and :func:`operators.dedup.lsh_live_view`
    anti-joins them ABOVE the shard-pruned scan so a dead doc stops
    matching immediately. Here every ``doc_id % 7 == 0`` doc is
    tombstoned; the oracle rebuilds the whole MinHash/band chain over
    only the surviving corpus — a probe pair against a dead doc
    flips the row set, not just a unit test.

    Scale: identical plan to incremental_near_dup plus one broadcast
    anti-join (tombstones are batch-scale by contract; compaction
    rewrites before they are not)."""
    from petastorm_spark.operators.dedup import (
        incremental_near_dup,
        lsh_index_build,
        lsh_live_view,
    )

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    new = d.select(
        (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
    )
    buckets, sigs = lsh_index_build(d, "text", "doc_id")
    # persist the shared signature ancestor — same rationale as
    # incremental_near_dup above (lazy index, no file write here)
    from petastorm_spark.session import materialize

    sigs = materialize(sigs)
    tomb = d.where(F.col("doc_id") % 7 == 0).select("doc_id")
    live_b, live_s = lsh_live_view(buckets, sigs, tomb)
    return incremental_near_dup(
        new, live_b, live_s, "text", "doc_id", min_est=0.5
    )


@register(
    "dedup_containment_pairs",
    oracle=_near_dup_oracle(threshold=0.9, measure="containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment |A∩B|/min(|A|,|B|)
    >= 0.9 over MinHash-LSH candidates — catches a short doc quoted
    whole inside a long one (Jaccard-invisible). Same persisted-set,
    id-keyed-verify plan as dedup_near_pairs."""
    from petastorm_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        threshold=0.9, num_hashes=16, bands=4, shingle_n=3,
    )


@register("dedup_near_pairs", oracle=_near_dup_oracle(threshold=0.8))
def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed near-dup operator: MinHash+LSH candidates -> exact
    shingle-Jaccard verify >= 0.8, one call. Scale: the verify is two
    id-keyed joins over candidate pairs (shingle sets as bounded
    arrays), never the shingle inverted index."""
    from petastorm_spark.operators.dedup import near_dup_pairs

    return near_dup_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        threshold=0.8, num_hashes=16, bands=4, shingle_n=3,
    )


def _cc_oracle() -> str:
    """Transitive closure over the near-dup pair list via a recursive
    CTE: fine at oracle scale (clusters are tiny), while the Spark side
    runs the O(log diameter) label-propagation that survives 100 TB."""
    nd = _near_dup_oracle(threshold=0.8)
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT id_a, id_b FROM ({nd}) q),
    nodes AS (SELECT id_a AS n FROM pairs UNION SELECT id_b FROM pairs),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT n AS a, n AS b FROM nodes
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    """


@register("dedup_clusters", oracle=_cc_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final step: near-dup pairs -> connected
    components -> (doc_id, cluster_id=min member, cluster_size); keep
    ``doc_id == cluster_id`` to canonicalize. Scale: min-label
    propagation with pointer jumping — O(log diameter) rounds of two
    key-partitioned shuffles each; no driver state."""
    from petastorm_spark.operators.dedup import connected_components, near_dup_pairs

    pairs = near_dup_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        threshold=0.8, num_hashes=16, bands=4, shingle_n=3,
    )
    return connected_components(pairs)


@register(
    "decontaminate_overlap",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    sets AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM tok WHERE len(t) >= 3),
    ev AS (SELECT DISTINCT unnest(s) AS sh FROM sets WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, unnest(s) AS sh FROM sets WHERE doc_id % 97 <> 0)
    SELECT doc_id, count(*) AS n_overlap
    FROM tr JOIN ev USING (sh)
    GROUP BY doc_id
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct 3-shingle overlap of every
    training doc against a held-out eval slice (doc_id % 97 == 0).
    Scale: the eval shingle set is broadcast, so the train corpus is
    scanned once, map-side semi-joined, and partially aggregated — no
    shuffle of train text."""
    from petastorm_spark.operators.dedup import contamination_overlap

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.where(F.col("doc_id") % 97 == 0)
    tr = d.where(F.col("doc_id") % 97 != 0)
    return contamination_overlap(tr, ev, "text", "doc_id").select(
        "doc_id", F.col("n_overlap").cast("bigint").alias("n_overlap")
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH tok AS (SELECT doc_id, len({_TOK}) AS n_tokens,
                        doc_id % 32 AS stream
                 FROM documents),
    c AS (SELECT doc_id, n_tokens, stream,
                 sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id)
                   AS cum
          FROM tok)
    SELECT CAST(stream * {1 << 40} + (cum - n_tokens) // 2048 AS BIGINT)
             AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY seq_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: docs -> 2048-token windows across 32
    independent id-sharded streams; per-window doc count and token
    total. Scale: one shuffle into n_streams sort groups, each window
    an independent running sum — no global ordering, no driver
    state."""
    from petastorm_spark.operators.packing import pack_sequences as _pack

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return _pack(d, "text", "doc_id", seq_len=2048, n_streams=32)


@register(
    "text_repetition",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
                    list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1]) AS bg
             FROM tok WHERE len(t) >= 2),
    cnt AS (SELECT doc_id, b, count(*) AS c
            FROM (SELECT doc_id, unnest(bg) AS b FROM base)
            GROUP BY doc_id, b),
    top AS (SELECT doc_id, max(c) AS top, sum(c) AS total
            FROM cnt GROUP BY doc_id)
    SELECT t.doc_id,
           floor(top / total * 10000) / 10000 AS top_bigram_frac,
           floor((1 - nd * 1.0 / n) * 10000) / 10000 AS dup_token_frac
    FROM top t JOIN base USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: most-frequent-bigram fraction
    and duplicate-token fraction per doc. Scale: explode + two
    partial-agg shuffles + one id-keyed join; pure JVM."""
    from petastorm_spark.operators.text import repetition_signals

    return repetition_signals(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    )


_H60_SH = "(('0x'||substr(md5(u),1,15))::BIGINT)"


@register(
    "doc_ngram_novelty",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    sets AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM tok WHERE len(t) >= 3),
    sh AS (SELECT doc_id, {_H60_SH} AS h FROM sets, unnest(s) AS un(u)),
    dfc AS (SELECT h, count(*) AS c FROM sh GROUP BY h)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           round(sum((c = 1)::INT) * 1.0 / count(*), 4) AS novelty
    FROM sh JOIN dfc USING (h) GROUP BY doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus originality per doc: the fraction of its distinct
    3-gram shingles that NO other document contains (df = 1) — near 0
    for boilerplate/templated docs, near 1 for genuinely novel text;
    also the memorization-risk flag (all-unique docs are uniquely
    attributable). The cross-doc complement of the intra-doc
    text_repetition signals. Scale: shingles shuffle as 60-bit hash
    ints, two partial-agg exchanges at occurrence scale. See
    operators/text.ngram_novelty."""
    from petastorm_spark.operators.text import ngram_novelty

    return ngram_novelty(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    )


@register(
    "ngram_repetition",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    g AS (SELECT doc_id, n, h, count(*) AS c FROM (
            SELECT doc_id, 2 AS n,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS h
            FROM tok WHERE len(t) >= 2
            UNION ALL
            SELECT doc_id, 3 AS n,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS h
            FROM tok WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, 4 AS n,
                   unnest(list_transform(range(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               || ' ' || t[i+3])) AS h
            FROM tok WHERE len(t) >= 4)
          GROUP BY doc_id, n, h),
    s AS (SELECT doc_id, n, max(c) AS top, sum(c) AS total
          FROM g GROUP BY doc_id, n)
    SELECT doc_id,
           max(CASE WHEN n = 2
               THEN floor(top / total * 10000) / 10000 END)
             AS top_2gram_frac,
           max(CASE WHEN n = 3
               THEN floor(top / total * 10000) / 10000 END)
             AS top_3gram_frac,
           max(CASE WHEN n = 4
               THEN floor(top / total * 10000) / 10000 END)
             AS top_4gram_frac
    FROM s GROUP BY doc_id
    """,
)
def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition ladder: top-2/3/4-gram fraction per doc in
    ONE scan (single explode of (n, hash) pairs, two partial-agg
    shuffles, conditional-agg pivot). N-grams shuffle as xxhash64."""
    from petastorm_spark.operators.text import ngram_repetition_signals

    return ngram_repetition_signals(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", ns=(2, 3, 4)
    )


@register(
    "token_entropy",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    c AS (SELECT doc_id, tk, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS tk FROM tok WHERE len(t) >= 1)
          GROUP BY doc_id, tk)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           floor((log2(sum(c)) - sum(c * log2(c)) / sum(c)) * 10000)
             / 10000 AS token_entropy
    FROM c GROUP BY doc_id
    """,
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (bits) —
    catches degenerate spam that ratio signals miss. Closed form
    log2(n) - sum(c*log2 c)/n; one scan, two keyed shuffles."""
    from petastorm_spark.operators.text import token_entropy

    return token_entropy(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id"
    )


@register(
    "cap_per_source",
    oracle=f"""
    WITH f AS (SELECT doc_id, source, {_FRAC_DOC} AS fr FROM documents),
    r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY fr ASC, doc_id ASC) AS rn
          FROM f)
    SELECT doc_id, source FROM r WHERE rn <= 10
    """,
)
def cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (keep <= 10 docs per source by
    key-stable md5 order) — the "no domain dominates the mix" curation
    control. Scale: two-phase top-k, so a hot source never funnels
    through one task unbounded."""
    from petastorm_spark.operators.sampling_extra import cap_per_group

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", "doc_id", max_per_group=10)


def _jl_oracle(out_dim: int = 8, dim: int = 64, seed: int = 7) -> str:
    import numpy as _np

    rng = _np.random.default_rng(seed)
    mat = rng.standard_normal((out_dim, dim)) / _np.sqrt(out_dim)
    cols = ",\n           ".join(
        "round(list_inner_product(v, ["
        + ",".join(repr(float(x)) for x in row)
        + f"]), 4) AS p{i}"
        for i, row in enumerate(mat)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           {cols}
    FROM e
    """


@register("embedding_jl_projection", oracle=_jl_oracle())
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64d -> 8d (Gaussian
    matrix / sqrt(8), seed-deterministic so the oracle rebuilds the
    identical matrix) — the pre-ANN shrink for index tiers that can't
    hold full-width vectors. Registered output flattens the projected
    vector to one rounded column per dimension (driver-hashable).
    Scale: pure per-row map, matrix rides the plan as one 2-D literal,
    zero shuffle; see operators/similarity.project_embeddings."""
    from petastorm_spark.operators.similarity import project_embeddings

    emb = _t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p = project_embeddings(emb, "vec_id", "embedding", out_dim=8, dim=64, seed=7)
    return p.select(
        "vec_id",
        *[
            F.round(F.col("projected")[i], 4).alias(f"p{i}")
            for i in range(8)
        ],
    )


@register(
    "embedding_label_drift",
    oracle="""
    WITH x AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    pe AS (SELECT label, unnest(v) AS val,
                  unnest(range(1, len(v) + 1)) AS pos FROM x),
    pl AS (SELECT label, pos, sum(val) AS s, count(*) AS n
           FROM pe GROUP BY label, pos),
    lc AS (SELECT label, max(n) AS n_vecs,
                  list(s / n ORDER BY pos) AS c
           FROM pl GROUP BY label),
    gp AS (SELECT pos, sum(val) AS sg, count(*) AS ng
           FROM pe GROUP BY pos),
    gc AS (SELECT list(sg / ng ORDER BY pos) AS g FROM gp)
    SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
           round(list_inner_product(c, g) /
                 (sqrt(list_inner_product(c, c)) *
                  sqrt(list_inner_product(g, g))), 4) AS cos_to_global
    FROM lc, gc
    """,
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation-drift probe: per-label mean-pooled centroid vs
    the global centroid, reported as cosine — the one-glance check
    that a subpopulation's embedding mass hasn't wandered (training
    feed QA; run per source or per time slice in production). Scale:
    centroids partial-aggregate per (group, dim) — the exchange
    carries dim rows per group, never vectors; the global centroid is
    a 1-row broadcast. See operators/similarity.embedding_centroids."""
    from petastorm_spark.operators.similarity import (
        cosine,
        embedding_centroids,
    )

    emb = _t_wide(spark, sf_dir, "embeddings").select("label", "embedding")
    per_label = embedding_centroids(emb, "label", vec_col="embedding")
    g = (
        embedding_centroids(
            emb.withColumn("_g", F.lit(0)), "_g", vec_col="embedding"
        )
        .select(F.col("centroid").alias("_gcent"))
    )
    return per_label.crossJoin(F.broadcast(g)).select(
        "label",
        "n_vecs",
        F.round(cosine(F.col("centroid"), F.col("_gcent")), 4).alias(
            "cos_to_global"
        ),
    )


@register(
    "embedding_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax
          FROM e),
    q AS (SELECT vec_id, amax / 127 AS scale,
                 CASE WHEN amax > 0
                      THEN list_transform(v, x -> CAST(round(x / (amax / 127))
                                                       AS INT))
                      ELSE list_transform(v, x -> 0) END AS qv
          FROM a)
    SELECT vec_id, round(scale, 8) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sum_q2
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus
    (per-vector scale = max|v|/127): the storage/bandwidth reduction
    pass before ANN indexing. Checked via per-vector scale + integer
    checksums of the quantized values (exact, engine-portable).
    Scale: pure per-row map, zero shuffle."""
    from petastorm_spark.operators.similarity import quantize_embeddings

    qd = quantize_embeddings(
        _t_wide(spark, sf_dir, "embeddings"), "vec_id", "embedding", bits=8
    )
    return qd.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "sum_q"
        ),
        F.aggregate(
            "q", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint") * x
        ).alias("sum_q2"),
    )


_SW_LIST = "['the','a','of','to','and','in','is','it','on','for']"

_CURATE_CTE = f"""
    WITH d AS (SELECT doc_id, text, source FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id, text, source
               FROM documents),
    w AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text)),
    dd AS (SELECT d.* FROM d JOIN w USING (doc_id)),
    m AS (SELECT doc_id,
                 len(list_filter(t, x -> list_contains({_SW_LIST}, x)))
                   * 1.0 / len(t) AS sw,
                 len(list_distinct(t)) * 1.0 / len(t) AS uniq,
                 length(regexp_replace(low, '[^a-z ]', '', 'g'))
                   * 1.0 / length(low) AS alpha,
                 len(t) AS n
          FROM (SELECT doc_id, lower(trim(text)) AS low, {_TOK} AS t
                FROM dd)),
    q AS (SELECT dd.* FROM dd JOIN m USING (doc_id)
          WHERE floor(((CASE WHEN sw > 0.01 AND sw < 0.6
                             THEN 1.0 ELSE 0.5 END) * 0.3
                       + uniq * 0.3 + alpha * 0.2
                       + (CASE WHEN n >= 10 AND n <= 5000
                               THEN 1.0 ELSE 0.5 END) * 0.2)
                      * 10000) / 10000 >= 0.8),
    r AS (SELECT q.*, row_number() OVER (PARTITION BY source
                 ORDER BY {_FRAC_DOC} ASC, doc_id ASC) AS rn FROM q),
    c AS (SELECT doc_id, text, source FROM r WHERE rn <= 15),
    o AS (SELECT doc_id, source,
                 md5(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                   '[EMAIL]', 'g'),
                   '(\\+?\\d{{1,2}} ?)?\\d{{3}}-\\d{{3}}-\\d{{4}}',
                   '[PHONE]', 'g')) AS scrub_hash
          FROM c)
"""


def _curated_stages(spark: SparkSession, sf_dir: str):
    from petastorm_spark.operators.pipeline import curate_corpus

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text", "source")
    both = d.unionByName(
        d.select((F.col("doc_id") + _COPY_SHIFT).alias("doc_id"), "text", "source")
    )
    return curate_corpus(
        both, "text", "doc_id",
        quality_floor=0.8, strata_col="source", max_per_stratum=15,
    )


@register(
    "curate_corpus_docs",
    oracle=_CURATE_CTE + "SELECT doc_id, source, scrub_hash FROM o",
)
def curate_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE lazy plan: exact dedup (min-id
    per digest, semi-join), quality floor >= 0.8, per-source cap of 15
    (key-stable md5 order), PII scrub — the surviving corpus with the
    scrubbed-text hash. Scale: one digest shuffle + pure map filters +
    the two-phase cap; nothing driver-side."""
    out = _curated_stages(spark, sf_dir)["output"]
    return out.select("doc_id", "source", F.md5("text").alias("scrub_hash"))


@register(
    "curate_corpus_report",
    oracle=_CURATE_CTE + """
    SELECT 0 AS stage_idx, 'input' AS stage, (SELECT count(*) FROM d) AS n_rows
    UNION ALL
    SELECT 1, 'dedup', (SELECT count(*) FROM dd)
    UNION ALL
    SELECT 2, 'quality', (SELECT count(*) FROM q)
    UNION ALL
    SELECT 3, 'capped', (SELECT count(*) FROM c)
    UNION ALL
    SELECT 4, 'output', (SELECT count(*) FROM o)
    """,
)
def curate_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition of the curation pipeline (what a data run
    logs first): rows in/out at input -> dedup -> quality -> cap ->
    scrub. Each count is a partial aggregate; the whole report is one
    unioned plan."""
    from petastorm_spark.operators.pipeline import curation_report

    return curation_report(_curated_stages(spark, sf_dir))


@register(
    "boilerplate_ngrams",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ngram
          FROM tok WHERE len(t) >= 3)
    SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences
    FROM g GROUP BY ngram HAVING count(*) >= 5
    """,
)
def boilerplate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate miner: every corpus-wide 3-gram above an absolute
    occurrence threshold (threshold semantics — no top-k tie
    ambiguity). The threshold scales with corpus size (1 per 100 docs,
    floor 5 — exactly 5 at the sf0.01 oracle scale) so the qualifying
    set stays boilerplate-sized at any sf. Scale: hash-count pass
    (8-byte shuffle keys), qualifying hashes broadcast-joined against
    a second scan — text never rides the corpus-wide shuffle."""
    from petastorm_spark.operators.text import boilerplate_ngrams

    d = _t_wide(spark, sf_dir, "documents")
    min_count = max(5, d.count() // 300)
    return boilerplate_ngrams(
        d, "text", "doc_id", n=3, min_count=min_count,
    )


_BM25_TERMS = ["table", "join", "window"]


def _bm25_oracle(k1: float = 1.2, b: float = 0.75) -> str:
    tfs = ",\n                 ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # term expressions mirror the Spark operator's float op order
    # exactly: ((idf*tf)*(k1+1)) / (tf + k1*((1-b) + ((b*dl)/avgdl)))
    terms = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {k1 + 1}"
        f" / (tf{i} + {k1} * ({1 - b} + ({b} * dl) / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    d AS (SELECT doc_id, len(t) AS dl,
                 {tfs}
          FROM tok),
    s AS (SELECT count(*) AS n, avg(dl) AS avgdl, {dfs} FROM d)
    SELECT doc_id, floor(({terms}) * 10000) / 10000 AS score
    FROM d, s
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    """


@register("bm25_search", oracle=_bm25_oracle())
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every doc against a 3-term query.
    Scale: one corpus-stats aggregate broadcast back via crossJoin,
    then a pure map-side score — nothing shuffled by term, no Python
    UDFs."""
    from petastorm_spark.operators.sampling_extra import bm25_scores

    return bm25_scores(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", _BM25_TERMS
    )


def _rrf_oracle(n_list: int = 20, k: int = 10, k_const: int = 60) -> str:
    # bm25 half: same CTE math as _bm25_oracle (floor-scaled scores,
    # rank ties by doc_id); ann half: exact cosine of query vector 0
    tfs = ",\n                 ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    terms = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * 2.2"
        f" / (tf{i} + 1.2 * (0.25 + (0.75 * dl) / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    cos = (
        "list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product(e.v, e.v)))"
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    d AS (SELECT doc_id, len(t) AS dl, {tfs} FROM tok),
    s AS (SELECT count(*) AS n, avg(dl) AS avgdl, {dfs} FROM d),
    bscore AS (SELECT doc_id, floor(({terms}) * 10000) / 10000 AS score
               FROM d, s
               WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0),
    brank AS (SELECT doc_id, rn AS rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM bscore) WHERE rn <= {n_list}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0),
    arank AS (SELECT doc_id, rn AS rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY {cos} DESC, e.vec_id) AS rn
        FROM e, q WHERE e.vec_id != q.query_id) WHERE rn <= {n_list}),
    u AS (SELECT doc_id, 1.0 / ({k_const} + rank) AS s FROM brank
          UNION ALL
          SELECT doc_id, 1.0 / ({k_const} + rank) AS s FROM arank),
    f AS (SELECT doc_id, sum(s) AS raw, count(*) AS n_systems
          FROM u GROUP BY doc_id),
    r AS (SELECT doc_id, raw, n_systems,
                 row_number() OVER (ORDER BY raw DESC, doc_id) AS rank
          FROM f)
    SELECT doc_id, round(raw, 6) AS rrf_score, CAST(rank AS INT) AS rank,
           CAST(n_systems AS BIGINT) AS n_systems
    FROM r WHERE rank <= {k}
    """


@register("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 over the documents table and exact-cosine
    ANN over the embeddings table (vec_id == doc_id), fused by
    reciprocal-rank fusion — the score-free rank combination that
    needs no normalization between the incomparable BM25 and cosine
    scales. Top-20 from each system, RRF k=60, top-10 out. Scale: both
    retrieval legs are the already-scale-proof operators (stats
    broadcast + map-side BM25; broadcast-queries scan + two-phase
    top-k ANN); the fusion itself touches 40 rows. 2-system double
    addition is commutative, so the fused score is bit-stable."""
    from petastorm_spark.operators.sampling_extra import bm25_scores, rrf_fuse
    from petastorm_spark.operators.similarity import cosine_topk

    from pyspark.sql import Window

    d = _t_wide(spark, sf_dir, "documents")
    e = _t_wide(spark, sf_dir, "embeddings")
    bs = bm25_scores(d, "text", "doc_id", _BM25_TERMS)
    btop = bs.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")  # <= 20 rows post-limit
    brank = btop.select("doc_id", F.row_number().over(w).alias("rank"))
    ann = cosine_topk(e, e.where(F.col("vec_id") == 0), k=20)
    arank = ann.select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([brank, arank], "doc_id", k_const=60, k=10)


@register(
    "sample_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_FRAC_DOC} <
          CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
                    WHEN 'fr' THEN 0.2 ELSE 0.05 END
    """,
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing downsample: per-language keep rates via a
    key-stable md5 fraction (same key -> same keep decision across
    runs, partitionings, engines). Scale: pure map-side filter, no
    shuffle, rate lookup is a literal CASE."""
    from petastorm_spark.operators.sampling_extra import sample_stratified

    return sample_stratified(
        _t_wide(spark, sf_dir, "documents"),
        "lang",
        {"en": 0.5, "de": 0.3, "fr": 0.2},
        key_col="doc_id",
        seed=0,
        default_fraction=0.05,
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, n_chars, {_TOK} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 4) AS avg_tok_len,
           n_chars
    FROM tok
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents: counts, distinct counts, mean
    token length. Scale: pure map, zero shuffle."""
    from petastorm_spark.operators import text as T

    d = _t_wide(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        T.distinct_token_count("text").cast("bigint").alias("n_distinct"),
        F.round(T.avg_token_len("text"), 4).alias("avg_tok_len"),
        "n_chars",
    )


@register(
    "text_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lower(trim(text)) AS low, {_TOK} AS t FROM documents),
    m AS (SELECT doc_id,
                 len(list_filter(t, x -> list_contains({_SW_LIST}, x))) * 1.0 / len(t) AS sw,
                 len(list_distinct(t)) * 1.0 / len(t) AS uniq,
                 length(regexp_replace(low, '[^a-z ]', '', 'g')) * 1.0 / length(low) AS alpha,
                 len(t) AS n
          FROM tok)
    SELECT doc_id,
           floor(sw * 10000) / 10000 AS stopword_ratio,
           floor(uniq * 10000) / 10000 AS uniqueness_ratio,
           floor(alpha * 10000) / 10000 AS alpha_ratio,
           floor(((CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) * 0.3
                 + uniq * 0.3 + alpha * 0.2
                 + (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.5 END) * 0.2)
                 * 10000) / 10000 AS quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword/uniqueness/character-class ratios and
    a composite score. Scale: pure map."""
    from petastorm_spark.operators import text as T

    d = _t_wide(spark, sf_dir, "documents")

    def f4(c):  # floor-scale: round() half-way ties differ across engines
        return F.floor(c * 10000) / 10000

    return d.select(
        "doc_id",
        f4(T.stopword_ratio("text")).alias("stopword_ratio"),
        f4(T.uniqueness_ratio("text")).alias("uniqueness_ratio"),
        f4(T.alpha_ratio("text")).alias("alpha_ratio"),
        f4(T.quality_score("text")).alias("quality"),
    )


@register(
    "quality_floor_source",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, lower(trim(text)) AS low, {_TOK} AS t
                 FROM documents),
    m AS (SELECT doc_id, source,
                 len(list_filter(t, x -> list_contains({_SW_LIST}, x))) * 1.0 / len(t) AS sw,
                 len(list_distinct(t)) * 1.0 / len(t) AS uniq,
                 length(regexp_replace(low, '[^a-z ]', '', 'g')) * 1.0 / length(low) AS alpha,
                 len(t) AS n
          FROM tok),
    q AS (SELECT doc_id, source,
                 floor(((CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) * 0.3
                       + uniq * 0.3 + alpha * 0.2
                       + (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.5 END) * 0.2)
                       * 10000) / 10000 AS quality
          FROM m)
    SELECT doc_id, source, quality
    FROM q
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)
            <= ceil(0.8 * count(*) OVER (PARTITION BY source))
    """,
)
def quality_floor_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality floor: keep the top 80% of each source by
    composite quality score — the per-source curation cut (a single
    global threshold would empty a low-scoring-but-wanted source).
    Rank-based (no percentile interpolation) over the floor-scaled
    score so the kept set is engine-exact; one shuffle on source
    (see operators/sampling_extra.keep_top_frac)."""
    from petastorm_spark.operators import text as T
    from petastorm_spark.operators.sampling_extra import keep_top_frac

    d = _t_wide(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        (F.floor(T.quality_score("text") * 10000) / 10000).alias("quality"),
    )
    return keep_top_frac(scored, "source", "quality", "doc_id", 0.8)


def _langid_case_sql() -> tuple[str, str]:
    """(score column list, argmax CASE) for the lexicon language ID —
    shared by the per-doc and per-source-audit oracles."""
    from petastorm_spark.operators.text import LANG_LEXICONS

    score_cols = []
    for lang, lex in sorted(LANG_LEXICONS.items()):
        arr = "[" + ",".join(f"'{w}'" for w in lex) + "]"
        score_cols.append(
            f"len(list_filter(t, x -> list_contains({arr}, x))) AS s_{lang}"
        )
    langs = sorted(LANG_LEXICONS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return ", ".join(score_cols), case


def _langid_oracle() -> str:
    scores, case = _langid_case_sql()
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK} AS t FROM documents),
    s AS (SELECT doc_id, lang, {scores} FROM tok)
    SELECT doc_id, lang AS labeled_lang, {case} AS detected_lang FROM s
    """


def _langid_mismatch_oracle() -> str:
    scores, case = _langid_case_sql()
    return f"""
    WITH tok AS (SELECT doc_id, source, lang, {_TOK} AS t FROM documents),
    s AS (SELECT source, lang, {scores} FROM tok),
    det AS (SELECT source, lang, {case} AS detected FROM s)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN detected <> lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch,
           floor(sum(CASE WHEN detected <> lang THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000) / 10000 AS mismatch_frac
    FROM det GROUP BY source
    """


@register("langid_mismatch_source", oracle=_langid_mismatch_oracle())
def langid_mismatch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-audit aggregate: per source, the fraction of documents
    whose lexicon-detected language disagrees with the declared
    ``lang`` column — the standard metadata-trust check before using
    labels for mixing/filtering decisions. Scale: pure map (the
    detector is a literal-lexicon argmax) + one partial-aggregated
    shuffle on source."""
    from petastorm_spark.operators.text import detect_language

    d = _t_wide(spark, sf_dir, "documents")
    mm = (detect_language("text") != F.col("lang")).cast("int")
    return (
        d.select("source", mm.alias("_mm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_mm").cast("bigint").alias("n_mismatch"),
            (F.floor(F.sum("_mm") / F.count(F.lit(1)) * 10000) / 10000).alias(
                "mismatch_frac"
            ),
        )
    )


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based language ID (argmax of per-language stopword hits,
    alphabetical tie-break, 'und' when nothing matches). Scale: pure
    map against broadcast-literal lexicons."""
    from petastorm_spark.operators.text import detect_language

    d = _t_wide(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detect_language("text").alias("detected_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
    FROM tok
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint: md5 over the sorted distinct token
    set — catches order-shuffled duplicates that exact dedup misses."""
    from petastorm_spark.operators.text import fingerprint

    d = _t_wide(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


@register(
    "pred_in_intersection",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, {_TOK} AS t FROM documents)
    SELECT doc_id, source
    FROM tok
    WHERE list_has_any(t, ['spark', 'window'])
    """,
)
def pred_in_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_intersection (P5): documents whose token array overlaps a
    literal word set — arrays_overlap stays JVM-side."""
    from petastorm_spark.operators.text import tokens
    from petastorm_spark.predicates import in_intersection

    d = _t_wide(spark, sf_dir, "documents").withColumn("_toks", tokens("text"))
    pred = in_intersection(["spark", "window"], "_toks")
    return d.where(pred.to_column()).select("doc_id", "source")


@register(
    "token_frequencies",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
    SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20
    """,
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word count, top 20 (the canonical distributed op). Scale:
    explode -> partial agg map-side -> one exchange on token; top-k via
    ordered limit (Spark plans TakeOrdered, no global sort)."""
    from petastorm_spark.operators.text import tokens

    d = _t_wide(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e)
    SELECT label, CAST(dim AS INT) AS dim, round(avg(x), 6) AS centroid
    FROM u WHERE dim <= 8 GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first 8 dims shown): posexplode + grouped
    mean — the building block of k-means/IVF coarse quantizers. Scale:
    explode is a map; one exchange on (label, dim)."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .withColumn("dim", (F.col("dim0") + 1).cast("int"))
        .where(F.col("dim") <= 8)
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"))
    )


# DuckDB cosine expression shared by the similarity oracles.
_COS = (
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * "
    "sqrt(list_dot_product(cv, cv)))"
)


@register(
    "knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS true_label,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
          FROM embeddings),
    s AS (SELECT query_id, true_label, neighbor_id, label, {_COS} AS cos
          FROM q, c WHERE neighbor_id != query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk
          FROM s),
    votes AS (SELECT query_id, true_label, label, count(*) AS n_votes
              FROM r WHERE rk <= 5 GROUP BY query_id, true_label, label),
    best AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY n_votes DESC, label) AS vr
             FROM votes)
    SELECT query_id, true_label, label AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM best WHERE vr = 1
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote classification for 10 query vectors (ties ->
    smallest label). Composes cosine_topk with a vote aggregation —
    the eval loop of an embedding-space classifier."""
    from pyspark.sql import Window

    from petastorm_spark.operators.similarity import cosine_topk

    emb = _t_wide(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    topk = cosine_topk(emb, queries, k=5)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label")
    )
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_COS} AS cos
          FROM q, c WHERE neighbor_id != query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 10 query vectors against the
    whole corpus. Scale: broadcast query set; one corpus scan."""
    from petastorm_spark.operators.similarity import cosine_topk

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@register(
    "bitext_margin_mine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    src AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
    tgt AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
    q AS (SELECT vec_id, v FROM src WHERE vec_id < 200),
    fwd_all AS (
      SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
             list_dot_product(q.v, t.v)
             / (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(t.v, t.v))) AS cos
      FROM q, tgt t),
    fwd_r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM fwd_all),
    fwd AS (
      SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim,
             CAST(round(round(cos, 4) * 10000, 0) AS BIGINT) AS c4
      FROM fwd_r WHERE rnk <= 4),
    fwd_sum AS (SELECT query_id, CAST(SUM(c4) AS BIGINT) AS fs
                FROM fwd GROUP BY query_id),
    cand AS (SELECT DISTINCT neighbor_id FROM fwd),
    bwd_all AS (
      SELECT t.vec_id AS tgt_id, s.vec_id AS src_nb,
             list_dot_product(t.v, s.v)
             / (sqrt(list_dot_product(t.v, t.v))
                * sqrt(list_dot_product(s.v, s.v))) AS cos
      FROM cand c JOIN tgt t ON t.vec_id = c.neighbor_id, src s),
    bwd_r AS (
      SELECT tgt_id, cos,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY cos DESC, src_nb) AS rnk
      FROM bwd_all),
    bwd_sum AS (
      SELECT tgt_id AS neighbor_id,
             CAST(SUM(CAST(round(round(cos, 4) * 10000, 0) AS BIGINT))
                  AS BIGINT) AS bs
      FROM bwd_r WHERE rnk <= 4 GROUP BY tgt_id),
    m AS (
      SELECT f.query_id, f.neighbor_id, f.cos_sim,
             round(8.0 * f.c4 / (fs + bs), 4) AS margin
      FROM fwd f
      JOIN fwd_sum USING (query_id) JOIN bwd_sum USING (neighbor_id)),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY margin DESC, neighbor_id) AS rr
      FROM m)
    SELECT query_id AS src_id, neighbor_id AS tgt_id, cos_sim, margin
    FROM r WHERE rr = 1
    """,
)
def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix/LASER recipe): even
    vec_ids play the source language, odd the target; for each of the
    first 100 source vectors, the best target by cosine-over-mean-kNN
    margin. The oracle unrolls both directions' top-4 and the
    micro-unit margin algebra. Scale: see
    operators/similarity.bitext_margin_mine — two broadcast-query
    topk passes, index-swappable."""
    from petastorm_spark.operators.similarity import bitext_margin_mine as mine

    emb = _t_wide(spark, sf_dir, "embeddings")
    src = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    return mine(src, tgt, src.where(F.col("vec_id") < 200), k=4)


def _lsh_planes_sql(n_planes: int = 8, dim: int = 64, seed: int = 7) -> str:
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ",".join(repr(float(v)) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "ann_cosine_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({_lsh_planes_sql()} AS INT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
    s AS (SELECT query_id, neighbor_id, {_COS} AS cos
          FROM q JOIN c USING (bucket) WHERE neighbor_id != query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= 5
    """,
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (8 planes, seed 7):
    candidates restricted to the query's sign-pattern bucket. Same
    plane matrix is embedded in the oracle, so approximation error is
    deterministic and checkable. Scale: equi-join on bucket replaces
    the cross join."""
    from petastorm_spark.operators.similarity import cosine_topk_lsh

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(
        emb, emb.where(F.col("vec_id") < 10), dim=64, k=5, n_planes=8, seed=7
    )


def _ivf_oracle(n_cells: int = 16, n_probe: int = 3, k: int = 5) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    qp AS (SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c WHERE e.vec_id < 10) WHERE rn <= {n_probe}),
    s AS (SELECT query_id, ca.vec_id AS neighbor_id, {cos('qp.qv', 'ca.v')} AS cos
          FROM qp JOIN ca USING (cell) WHERE ca.vec_id != query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


@register("ann_cosine_ivf", oracle=_ivf_oracle())
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: corpus bucketed by nearest coarse centroid
    (deterministic quantizer: the 16 lowest-id vectors, so the oracle
    rebuilds the identical index); queries probe their 3 nearest
    cells. Scale: centroid table broadcast, corpus assigned in one
    partial-agg argmax pass, candidates via cell equi-join."""
    from petastorm_spark.operators.similarity import cosine_topk_ivf

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=3
    )


def _multiprobe_oracle(n_planes: int = 8) -> str:
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({_lsh_planes_sql(n_planes)} AS INT) AS bucket FROM e),
    q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    q AS (SELECT query_id, qv,
                 CAST(unnest([{probe_list}]) AS INT) AS bucket
          FROM q0),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
    s AS (SELECT query_id, neighbor_id, {_COS} AS cos
          FROM q JOIN c USING (bucket) WHERE neighbor_id != query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= 5
    """


@register("ann_cosine_multiprobe", oracle=_multiprobe_oracle())
def ann_cosine_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5: each query probes its own bucket plus the
    8 flip-1-bit neighbors, recovering near-misses that fell just
    across one hyperplane. The probe expansion and planes are embedded
    in the oracle, so the recall gain itself is deterministic and
    checked. Scale: probe explosion is on the tiny query side only."""
    from petastorm_spark.operators.similarity import cosine_topk_multiprobe

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_multiprobe(
        emb, emb.where(F.col("vec_id") < 10), dim=64, k=5, n_planes=8, seed=7
    )


def _embedding_dedup_oracle(threshold: float = 0.995) -> str:
    return f"""
    WITH e0 AS (SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + {_COPY_SHIFT} AS vec_id, embedding FROM embeddings),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM e0),
    b AS (SELECT vec_id, v, CAST({_lsh_planes_sql(8)} AS INT) AS bucket FROM e),
    s AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                 list_dot_product(a.v, b2.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b2.v, b2.v))) AS cos
          FROM b a JOIN b b2 USING (bucket)
          WHERE a.vec_id < b2.vec_id)
    SELECT id_a, id_b, round(cos, 4) AS cos_sim
    FROM s WHERE cos >= {threshold}
    """


@register("dedup_embedding_pairs", oracle=_embedding_dedup_oracle())
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the vector-space dedup modality
    next to MinHash/SimHash): LSH sign-pattern buckets + exact cosine
    verify >= 0.995. The synthetic copies (identical vectors) always
    share a bucket — and agree on the hot-bucket refinement planes —
    so every true duplicate pair surfaces at cos 1.0 regardless of
    bucket density; the plain-bucket oracle stays exact because only
    identical vectors clear the 0.995 threshold in this corpus.
    Scale: one scan + one shuffle (window count and join share the
    bucket exchange); hot buckets split on 12 extra hyperplane bits,
    and ``corpus_size_hint`` grows the plane count so the expected
    bucket — the per-vector candidate budget — stays ~64 instead of
    N/256 (at the oracle's sf0.01 scale the hint leaves the 8-plane
    floor untouched, so the fixed-plane SQL stays exact; identical
    vectors agree on every plane at ANY width)."""
    from petastorm_spark.operators.similarity import embedding_near_dup_pairs

    n = 2 * _t(spark, sf_dir, "embeddings").count()
    emb = _t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = emb.unionByName(
        emb.select((F.col("vec_id") + _COPY_SHIFT).alias("vec_id"), "embedding")
    )
    return embedding_near_dup_pairs(
        both, "vec_id", "embedding", dim=64, threshold=0.995, n_planes=8,
        seed=7, corpus_size_hint=n,
    )


# ---------------------------------------------------------------------------
# Chunking + PII scrub
# ---------------------------------------------------------------------------


@register(
    "chunk_documents",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t, len({_TOK}) AS n
                 FROM documents),
         c AS (SELECT doc_id, t,
                      unnest(range(0, greatest(1, (n - 8 + 23) // 24)))
                        AS ci
               FROM tok)
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, ci * 24 + 1, ci * 24 + 32)) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(list_slice(t, ci * 24 + 1, ci * 24 + 32), ' '))
             AS chunk_hash
    FROM c
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for RAG/embedding feeds: 32-token windows
    with 8-token overlap (step 24), full token coverage, md5 per
    chunk. Scale: pure map + explode, zero shuffle — the chunk
    fan-out rides the scan."""
    from petastorm_spark.operators.packing import chunk_documents

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, "text", "doc_id", chunk_size=32, overlap=8)


# Injected PII: the corpus is synthetic prose with no organic PII, so
# every 7th doc gets a deterministic contact line appended — built
# IDENTICALLY on both engines — making the scrub check non-vacuous.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or +1 555-123-4567'"
)


@register(
    "pii_k_anonymity",
    oracle="""
    WITH r AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT)
               AS bal_bucket,
             count(*) AS class_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(class_size < 5 AS INT) AS at_risk
    FROM r
    """,
)
def pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk report (Sweeney 2002) over the customer
    quasi-identifiers (nation, market segment, account-balance
    thousand-bucket): one row per QI equivalence class with its size
    and an at_risk flag (class_size < 5 — the rows a linkage attack
    can single out even with direct identifiers removed). The
    measurement half of the privacy pair; enforcement is
    operators/privacy.suppress_small_classes. Scale: one partial
    groupBy, output bounded by the QI domain."""
    from petastorm_spark.operators.privacy import k_anonymity_report

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("bigint")
        .alias("bal_bucket"),
    )
    return k_anonymity_report(
        c, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=5
    ).withColumn("class_size", F.col("class_size").cast("bigint"))


@register(
    "pii_scrub",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 7 = 0
                           THEN text || {_PII_SUFFIX_SQL}
                           ELSE text END AS text
               FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '(\\+?\\d{{1,2}} ?)?\\d{{3}}-\\d{{3}}-\\d{{4}}')) AS BIGINT)
             AS n_phone,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '(\\+?\\d{{1,2}} ?)?\\d{{3}}-\\d{{3}}-\\d{{4}}', '[PHONE]', 'g'))
             AS scrub_hash
    FROM d
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction over the corpus: per-doc email/phone
    match counts and the md5 of the scrubbed text (categories replaced
    by [EMAIL]/[PHONE] tokens). Patterns live in the Java-regex / RE2
    common subset so Spark and the DuckDB oracle run the same strings.
    Scale: pure JVM regexp map, zero shuffle."""
    from petastorm_spark.operators.text import pii_counts, scrub_pii

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    d = d.select("doc_id", injected.alias("text"))
    counts = pii_counts("text")
    return d.select(
        "doc_id",
        *[
            cnt.cast("bigint").alias(f"n_{name}")
            for name, cnt in counts
        ],
        F.md5(scrub_pii("text")).alias("scrub_hash"),
    )


# ---------------------------------------------------------------------------
# Source mixing, incremental ingest, LM-proxy quality
# ---------------------------------------------------------------------------


@register(
    "sample_temperature_sources",
    # the testdata's sources are uniform (rate would be 1.0 everywhere
    # — a vacuous check), so sources are re-binned into a skewed
    # crawl/curated/books split, identically on both engines
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 10 < 7 THEN 'crawl'
                           WHEN doc_id % 10 < 9 THEN 'curated'
                           ELSE 'books' END AS bucket
               FROM documents),
         c AS (SELECT bucket, count(*) AS n FROM d GROUP BY bucket),
         m AS (SELECT min(n) AS nmin FROM c),
         r AS (SELECT bucket, round(pow(n * 1.0 / nmin, 0.5 - 1.0), 6) AS rate
               FROM c, m)
    SELECT d.doc_id, d.bucket
    FROM d JOIN r USING (bucket)
    WHERE {_FRAC_DOC} < r.rate
    """,
)
def sample_temperature_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (alpha=0.5): sampled sizes
    proportional to n_source^0.5, smallest source kept whole — the
    standard multi-source re-balancing step, over a skewed 70/20/10
    re-binning of the corpus. Scale: stratum counts are one tiny
    broadcast; the corpus itself never shuffles (map-side keep filter
    on a key-stable md5 fraction)."""
    from petastorm_spark.operators.sampling_extra import sample_temperature

    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, "crawl")
        .when(F.col("doc_id") % 10 < 9, "curated")
        .otherwise("books")
        .alias("bucket"),
    )
    return sample_temperature(
        d, "bucket", key_col="doc_id", alpha=0.5, seed=0
    ).select("doc_id", "bucket")


@register(
    "dedup_incremental",
    oracle=f"""
    WITH hist AS (SELECT DISTINCT md5(text) AS digest FROM documents
                  WHERE doc_id % 10 < 8),
         newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
                  UNION ALL
                  SELECT doc_id + {_COPY_SHIFT}, text FROM documents
                  WHERE doc_id % 10 < 8 AND doc_id % 3 = 0),
         d AS (SELECT doc_id, md5(text) AS dg FROM newb),
         fresh AS (SELECT * FROM d
                   WHERE dg NOT IN (SELECT digest FROM hist))
    SELECT doc_id FROM fresh
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY dg)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: a new batch (the 20% tail of the corpus plus
    re-submitted copies of historical docs) is deduped against the
    historical digest store via a digest-keyed anti-join, then
    keep-first within the batch. The re-submitted copies make the
    anti-join non-vacuous: every one of them must be dropped. Scale:
    cost follows the ingest increment, not the corpus — the store side
    carries digests only."""
    from petastorm_spark.operators.dedup import incremental_dedup

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    hist = d.where(F.col("doc_id") % 10 < 8)
    new_batch = d.where(F.col("doc_id") % 10 >= 8).unionByName(
        hist.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"), "text"
        )
    )
    store = hist.select(F.md5("text").alias("digest")).distinct()
    return incremental_dedup(new_batch, store, "text", "doc_id").select("doc_id")


@register(
    "unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
         v AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         t AS (SELECT sum(c) AS total FROM v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(c * 1.0 / total)), 4) AS logprob
    FROM tok JOIN v USING (tok), t
    GROUP BY doc_id
    """,
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality score: mean unigram log-likelihood per doc
    under the corpus's own unigram distribution — the model-free stand
    -in for perplexity filtering. Scale: explode -> combined vocab
    count -> broadcast vocab join -> one per-doc agg; no Python
    UDFs."""
    from petastorm_spark.operators.sampling_extra import unigram_logprob

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(d, "text", "doc_id")


def _hll_oracle() -> str:
    from petastorm_spark.operators.sketch import hll_oracle_sql

    return hll_oracle_sql(
        "(SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events)",
        "event_type",
        "uid",
        p=10,
    )


@register("hll_distinct_users", oracle=_hll_oracle())
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality: approximate distinct users per
    event type via an engine-portable HyperLogLog (md5-prefix hash,
    max-merged registers, closed-form estimator — the DuckDB oracle
    reproduces the ESTIMATE bit-for-bit, so even the approximate path
    is hash-gated). Scale: the register table is <= 2^10 rows per
    group no matter how many events — the countDistinct replacement
    at 100 TB; registers from new partitions union + max-merge
    incrementally. See operators/sketch.py."""
    from petastorm_spark.operators.sketch import hll_distinct

    ev = _t_wide(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    return hll_distinct(ev, "event_type", "uid", p=10)


@register(
    "funnel_signup_purchase",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
    s1 AS (SELECT user_id, min(t) AS t1 FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'view' AND t > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_depth,
           t1 AS t_step1, t2 AS t_step2, t3 AS t_step3
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> purchase per user: depth
    reached plus the epoch-us timestamp of each step's earliest
    eligible event (each step strictly after the previous one). The
    oracle is the N-way min-join formulation; the Spark plan is ONE
    user-key shuffle with an in-JVM fold over the sorted per-user
    event array — see operators/temporal.py:funnel_steps."""
    from petastorm_spark.operators.temporal import funnel_steps
    from petastorm_spark.session import events_ts_us

    ev = _t_wide(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    return funnel_steps(
        ev, "user_id", "ts_us", "event_type",
        steps=["signup", "view", "purchase"],
    )


@register(
    "excise_dup_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_TOK} AS t FROM documents),
    occ AS (SELECT doc_id, i,
                   (('0x'||substr(md5(array_to_string(t[i : i+3], ' ')),1,15))::BIGINT) AS h
            FROM tok, unnest(range(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 4),
    q AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 3),
    cov AS (SELECT o.doc_id, p
            FROM occ o JOIN q USING (h), unnest(range(o.i, o.i + 4)) AS v(p)),
    covset AS (SELECT doc_id, list(DISTINCT p) AS cov FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CASE WHEN len(t.t) = len(list_filter(t.t,
                  (x, i) -> c.cov IS NULL OR NOT list_contains(c.cov, i)))
                THEN t.text
                ELSE COALESCE(array_to_string(
                  list_filter(t.t, (x, i) -> c.cov IS NULL OR NOT list_contains(c.cov, i)),
                  ' '), '') END AS cleaned_text,
           CAST(len(t.t) - len(list_filter(t.t,
             (x, i) -> c.cov IS NULL OR NOT list_contains(c.cov, i))) AS BIGINT)
             AS n_tokens_removed
    FROM tok t LEFT JOIN covset c USING (doc_id)
    """,
)
def excise_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning half of exact substring dedup: every token covered
    by a 4-token window occurring >= 3 times in the corpus is excised
    from every document (boilerplate spans vanish, unique prose
    stays). Two-phase hash-first shape — the corpus-wide shuffle
    carries 8-byte window hashes, the rewrite is a map-side indexed
    array filter; text never shuffles. See
    operators/dedup.py:excise_dup_spans."""
    from petastorm_spark.operators.dedup import excise_dup_spans

    return excise_dup_spans(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", k=4, min_count=3
    )


@register(
    "events_anomaly",
    oracle="""
    WITH s AS (SELECT user_id, event_id, value,
                      avg(value) OVER w AS mu,
                      stddev(value) OVER w AS sd
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                            ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, value,
           floor((value - mu) / sd * 10000) / 10000 AS zscore
    FROM s
    WHERE sd > 0 AND abs((value - mu) / sd) > 3
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user: each event scored
    against the mean/stddev of its previous 10 events (event-time
    order, event_id tie-break for determinism), |z| > 3 flagged — the
    streaming-monitor batch twin every event pipeline needs.
    Zero-variance frames (identical history) score NULL, not a
    division error (ANSI mode) nor +-inf (DuckDB). Scale: one
    user-key shuffle + partition-local sort; the frame is row-bounded
    so window state is O(10) per user. Plain scan, no _t_wide
    fan-out: the window exchange already redistributes, and the extra
    round-robin repartition measured 2.3x slower at sf0.1."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-10, -1)
    )
    sd = F.stddev("value").over(w)
    z = F.when(sd > 0, (F.col("value") - F.avg("value").over(w)) / sd)
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            z.alias("_z"),
        )
        .where(F.abs(F.col("_z")) > 3)
        .select(
            "user_id",
            "event_id",
            "value",
            (F.floor(F.col("_z") * 10000) / 10000).alias("zscore"),
        )
    )


@register(
    "sample_weighted_docs",
    oracle=f"""
    SELECT doc_id, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY power({_FRAC_DOC}, 1.0 / n_chars) DESC, doc_id
    ) <= 20
    """,
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    20 docs per source with selection probability proportional to
    n_chars — key-stable and engine-exact (md5-fraction draw, the
    DuckDB oracle reproduces the sample membership bit-for-bit, which
    RAND()-based sampling never can). See
    operators/sampling_extra.sample_weighted."""
    from petastorm_spark.operators.sampling_extra import sample_weighted

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sample_weighted(
        d, "n_chars", "doc_id", k=20, group_col="source", seed=0
    )


def _cm_oracle() -> str:
    from petastorm_spark.operators.sketch import cm_oracle_sql

    return cm_oracle_sql(
        "(SELECT CAST(user_id AS VARCHAR) AS uid FROM events)",
        "uid", w=256, d=4,
    )


@register("cm_user_event_counts", oracle=_cm_oracle())
def cm_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimation: per-user event counts read out
    of a 4x256-cell sketch instead of a per-key aggregate — the
    heavy-hitter path whose state is constant-size at any corpus
    scale, with deliberate bucket collisions (w=256 < corpus keys at
    sf>=0.1) so the min-over-rows estimator is actually exercised.
    Engine-portable hashing makes even the approximate counts
    oracle-hash-exact. See operators/sketch.py."""
    from petastorm_spark.operators.sketch import cm_estimate, cm_sketch

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    sk = cm_sketch(ev, "uid", w=256, d=4)
    return cm_estimate(sk, ev.distinct(), "uid", w=256, d=4)


def _bloom_oracle(m: int = 65536, d: int = 3) -> str:
    from petastorm_spark.operators.dedup import hash60_sql

    ev_pos = "\nUNION\n".join(
        f"SELECT DISTINCT ({hash60_sql('sh', seed=r)}) % {m} AS pos FROM evsh"
        for r in range(d)
    )
    probes = "\nUNION ALL\n".join(
        f"SELECT doc_id, ({hash60_sql('sh', seed=None)}) AS shid,"
        f" ({hash60_sql('sh', seed=r)}) % {m} AS pos FROM trsh"
        for r in range(d)
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    sets AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
             FROM tok WHERE len(t) >= 3),
    evsh AS (SELECT doc_id, unnest(s) AS sh FROM sets WHERE doc_id % 97 = 0),
    trsh AS (SELECT doc_id, unnest(s) AS sh FROM sets WHERE doc_id % 97 <> 0),
    pos AS ({ev_pos}),
    probe AS ({probes}),
    hit AS (SELECT p.doc_id, p.shid, count(*) AS hits
            FROM probe p JOIN pos USING (pos)
            GROUP BY p.doc_id, p.shid
            HAVING count(*) = {d})
    SELECT doc_id, count(*) AS n_suspect FROM hit GROUP BY doc_id
    """


@register("decontaminate_bloom", oracle=_bloom_oracle())
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination signal against the held-out eval
    slice (doc_id % 97 == 0): a strict superset of
    decontaminate_overlap's exact counts, but the broadcast is bounded
    at m bit POSITIONS however large the eval suite grows. The
    engine-portable seeded hashing makes even the false-positive set
    oracle-hash-exact. See operators/dedup.py:contamination_bloom."""
    from petastorm_spark.operators.dedup import contamination_bloom

    docs = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    return contamination_bloom(
        tr, ev, "text", "doc_id", shingle_n=3, m=65536, d=3
    )


@register(
    "token_psi_sources",
    oracle=f"""
    WITH ta AS (SELECT unnest({_TOK}) AS token FROM documents WHERE source = 'web'),
    tb AS (SELECT unnest({_TOK}) AS token FROM documents WHERE source <> 'web'),
    ca AS (SELECT token, count(*) AS ca FROM ta GROUP BY token),
    cb AS (SELECT token, count(*) AS cb FROM tb GROUP BY token),
    j AS (SELECT COALESCE(ca.token, cb.token) AS token,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM j)
    SELECT token,
           floor((ca + 0.5) / (na + 0.5 * v) * 1000000) / 1000000 AS p_a,
           floor((cb + 0.5) / (nb + 0.5 * v) * 1000000) / 1000000 AS p_b,
           floor(((ca + 0.5) / (na + 0.5 * v) - (cb + 0.5) / (nb + 0.5 * v))
                 * ln(((ca + 0.5) / (na + 0.5 * v)) / ((cb + 0.5) / (nb + 0.5 * v)))
                 * 1000000) / 1000000 AS psi_term
    FROM j, tot
    """,
)
def token_psi_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: per-token PSI terms between the 'web'
    slice and the rest of the corpus — sum(psi_term) is the standard
    stability index (> 0.25 = distribution shifted, act). Scale:
    vocab-sized join, corpus never shuffles; see
    operators/text.py:token_psi."""
    from petastorm_spark.operators.text import token_psi

    d = _t_wide(spark, sf_dir, "documents")
    return token_psi(
        d.where(F.col("source") == "web"),
        d.where(F.col("source") != "web"),
        "text",
    )


@register(
    "bigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    docs2 AS (SELECT doc_id, t FROM tok WHERE len(t) >= 2),
    occ AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM docs2, unnest(range(1, len(t))) AS u(i)),
    uni AS (SELECT w1, count(*) AS cu FROM (SELECT unnest(t) AS w1 FROM docs2)
            GROUP BY w1),
    v AS (SELECT count(*) AS v FROM uni),
    bi AS (SELECT w1, w2, count(*) AS cb FROM occ GROUP BY w1, w2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(avg(ln((cb + 1.0) / (cu + v))) * 10000) / 10000 AS logprob
    FROM occ JOIN bi USING (w1, w2) JOIN uni USING (w1), v
    GROUP BY doc_id
    """,
)
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order LM-proxy quality: mean Laplace-smoothed bigram
    transition log-likelihood per doc — flags word-salad text whose
    unigram profile looks normal. Scale: two corpus-vocab aggregates
    broadcast onto the transition stream; see
    operators/sampling_extra.bigram_logprob."""
    from petastorm_spark.operators.sampling_extra import bigram_logprob

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(d, "text", "doc_id")


@register(
    "retention_cohorts",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
               FROM events),
    cohort AS (SELECT user_id, min(wk) AS cwk FROM e GROUP BY user_id),
    act AS (SELECT DISTINCT e.user_id, cwk, wk - cwk AS offset_wk
            FROM e JOIN cohort USING (user_id))
    SELECT cwk AS cohort_week,
           offset_wk,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_week, offset_wk
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted for every later week they return — THE product-analytics
    rollup. Scale: one user-keyed aggregate for cohorts, one user-key
    join back (both sides shuffle on user once; the cohort table is
    |users|-sized), distinct + count partially aggregated. Weeks via
    integer `div` on epoch-us (exact, layout-robust)."""
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    wk = F.expr(f"ts_us div {7 * 86400 * 1000000}")
    e = ev.withColumn("ts_us", events_ts_us(ev)).select(
        "user_id", wk.alias("wk")
    )
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    act = (
        e.join(cohort, "user_id")
        .select("user_id", "cwk", (F.col("wk") - F.col("cwk")).alias("offset_wk"))
        .distinct()
    )
    return act.groupBy(
        F.col("cwk").alias("cohort_week"), "offset_wk"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@register(
    "overlap_campaign_maintenance",
    oracle="""
    WITH e AS (SELECT epoch_us(ts) AS ts_us FROM events),
    a AS (SELECT DISTINCT (ts_us // 86400000000) * 86400000000 AS a_start,
                 (ts_us // 86400000000) * 86400000000 + 43200000000 AS a_end
          FROM e WHERE (ts_us // 86400000000) % 3 = 0),
    b AS (SELECT DISTINCT (ts_us // 86400000000) * 86400000000 + 7200000000 AS b_start,
                 (ts_us // 86400000000) * 86400000000 + 36000000000 AS b_end
          FROM e WHERE (ts_us // 86400000000) % 2 = 0)
    SELECT a_start, b_start,
           CAST(least(a_end, b_end) - greatest(a_start, b_start) AS BIGINT)
             AS overlap_us
    FROM a JOIN b ON a_start < b_end AND b_start < a_end
    """,
)
def overlap_campaign_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join: 12-hour campaign windows
    (every 3rd day) against 2am-10am maintenance windows (every 2nd
    day), with the overlap duration — planned as a bin-bucketed
    equi-join emitting each pair exactly once from the overlap's first
    bin (never Spark's nested-loop theta join). Oracle: DuckDB theta
    join. See operators/temporal.py:interval_overlap_join."""
    from petastorm_spark.operators.temporal import interval_overlap_join
    from petastorm_spark.session import events_ts_us

    DAY = 86_400_000_000
    H = 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev)).select("ts_us")
    day = (F.expr(f"ts_us div {DAY}") * DAY).cast("bigint")
    a = (
        ev.where(F.expr(f"(ts_us div {DAY}) % 3 = 0"))
        .select(day.alias("a_start"))
        .distinct()
        .withColumn("a_end", (F.col("a_start") + 12 * H).cast("bigint"))
    )
    b = (
        ev.where(F.expr(f"(ts_us div {DAY}) % 2 = 0"))
        .select(day.alias("b_start"))
        .distinct()
        .select(
            (F.col("b_start") + 2 * H).cast("bigint").alias("b_start"),
            (F.col("b_start") + 10 * H).cast("bigint").alias("b_end"),
        )
    )
    joined = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bin_width=6 * H
    )
    return joined.select(
        "a_start",
        "b_start",
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        ).cast("bigint").alias("overlap_us"),
    )


@register(
    "skew_report_sources",
    oracle="""
    WITH cnt AS (SELECT source AS key, count(*) AS n_rows
                 FROM documents GROUP BY source),
    tot AS (SELECT sum(n_rows) AS total, count(*) AS n_keys,
                   ln(sum(n_rows)) - sum(n_rows * ln(n_rows)) / sum(n_rows) AS h
            FROM cnt),
    ranked AS (SELECT key, n_rows,
                      row_number() OVER (ORDER BY n_rows DESC, key) AS rank
               FROM cnt QUALIFY rank <= 10)
    SELECT rank, key, n_rows,
           floor(n_rows * 1.0 / total * 10000) / 10000 AS frac,
           floor(sum(n_rows) OVER (ORDER BY rank) * 1.0 / total * 10000) / 10000
             AS cum_frac,
           n_keys,
           floor(CASE WHEN n_keys > 1 THEN h / ln(n_keys) ELSE 0.0 END
                 * 10000) / 10000 AS entropy_ratio
    FROM ranked, tot
    """,
)
def skew_report_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-key skew profile of documents.source: top-10
    heaviest keys with shares + the key-distribution entropy ratio —
    the measurement that decides salting / AQE-skew handling BEFORE a
    100 TB join. See operators/diagnostics.py:key_skew_report."""
    from petastorm_spark.operators.diagnostics import key_skew_report

    return key_skew_report(
        _t(spark, sf_dir, "documents"), "source", top_n=10
    )


@register(
    "token_cost_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
             AS BIGINT) AS n_bpe_tokens,
           floor(length(text) * 1.0
                 / len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                 * 10000) / 10000 AS chars_per_token
    FROM documents
    """,
)
def token_cost_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-cost estimation: whitespace vs BPE-style token counts
    per doc plus chars-per-token (tokenizer fertility) — the numbers a
    data budget is planned in. The split regex lives in the
    Java-regex/RE2 common subset so both engines count identically.
    Pure map, zero shuffle."""
    from petastorm_spark.operators.text import token_count, token_count_bpe

    d = _t_wide(spark, sf_dir, "documents")
    bpe = token_count_bpe("text")
    return d.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_ws_tokens"),
        bpe.cast("bigint").alias("n_bpe_tokens"),
        (F.floor(F.length("text") / bpe * 10000) / 10000).alias(
            "chars_per_token"
        ),
    )


@register(
    "value_psi_weekly",
    oracle="""
    WITH e AS (SELECT value, epoch_us(ts) // 604800000000 AS wk FROM events),
    w0 AS (SELECT min(wk) AS w FROM e),
    binner AS (SELECT value,
                      CASE WHEN value < 0 THEN -1
                           WHEN value >= 100 THEN 10
                           ELSE CAST(floor(value / 10) AS INT) END AS bin,
                      wk FROM e),
    ca AS (SELECT bin, count(*) AS ca FROM binner, w0 WHERE wk = w GROUP BY bin),
    cb AS (SELECT bin, count(*) AS cb FROM binner, w0 WHERE wk > w GROUP BY bin),
    j AS (SELECT COALESCE(ca.bin, cb.bin) AS bin,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM j)
    SELECT bin,
           floor((ca + 0.5) / (na + 0.5 * v) * 1000000) / 1000000 AS p_a,
           floor((cb + 0.5) / (nb + 0.5 * v) * 1000000) / 1000000 AS p_b,
           floor(((ca + 0.5) / (na + 0.5 * v) - (cb + 0.5) / (nb + 0.5 * v))
                 * ln(((ca + 0.5) / (na + 0.5 * v)) / ((cb + 0.5) / (nb + 0.5 * v)))
                 * 1000000) / 1000000 AS psi_term
    FROM j, tot
    """,
)
def value_psi_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift monitor: PSI of the events value distribution,
    first week vs the rest, over fixed [0,100) deciles — the
    "did this metric's distribution move" pre-flight for any ingest.
    See operators/text.py:numeric_psi."""
    from petastorm_spark.operators.text import numeric_psi
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev)).withColumn(
        "wk", F.expr("ts_us div 604800000000")
    )
    w0 = ev.agg(F.min("wk").alias("w")).collect()[0]["w"]
    return numeric_psi(
        ev.where(F.col("wk") == w0),
        ev.where(F.col("wk") > w0),
        "value",
        lo=0.0,
        hi=100.0,
        n_bins=10,
    )


@register(
    "negative_pairs_docs",
    oracle=f"""
    WITH n AS (SELECT count(*) // 2 AS b FROM documents),
    occ AS (
        SELECT doc_id AS id_a, j.draw,
               (('0x'||substr(md5('0|' || j.draw || '|' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT)
                 % (SELECT b FROM n) AS bucket
        FROM documents, (SELECT unnest(['0','1']) AS draw) j
    ),
    resolved AS (
        SELECT id_a, draw,
               min(id_a) OVER (PARTITION BY draw, bucket) AS mn,
               max(id_a) OVER (PARTITION BY draw, bucket) AS mx
        FROM occ
    )
    SELECT id_a, CAST(draw AS INT) AS draw,
           CASE WHEN mn <> id_a THEN mn ELSE mx END AS id_b
    FROM resolved
    WHERE (CASE WHEN mn <> id_a THEN mn ELSE mx END) <> id_a
    """,
)
def negative_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 2 key-stable
    pseudo-random partners per document via seeded hash buckets — the
    random-negative baseline, reproducible bit-for-bit across engines
    (RAND()-based pairing never is). See
    operators/sampling_extra.negative_pairs."""
    from petastorm_spark.operators.sampling_extra import negative_pairs

    d = _t_wide(spark, sf_dir, "documents").select("doc_id")
    return negative_pairs(d, "doc_id", k=2, seed=0)


@register(
    "approx_quantiles_chars",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_FRAC_DOC} ASC, doc_id ASC
               ) AS rn
        FROM documents
    )
    SELECT source,
           floor(quantile_cont(n_chars, 0.5) * 10000) / 10000 AS p_0_5,
           floor(quantile_cont(n_chars, 0.9) * 10000) / 10000 AS p_0_9
    FROM ranked WHERE rn <= 16 GROUP BY source
    """,
)
def approx_quantiles_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-sample quantiles: per-source p50/p90 of document
    length from a key-stable 16-doc md5-order sample — approximate by
    sampling theory yet bit-reproducible across engines (t-digest
    implementations are not). See
    operators/sampling_extra.approx_quantiles_sampled."""
    from petastorm_spark.operators.sampling_extra import (
        approx_quantiles_sampled,
    )

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return approx_quantiles_sampled(
        d, "source", "n_chars", "doc_id", probs=[0.5, 0.9], k=16, seed=0
    )


@register(
    "cusum_drift_users",
    oracle="""
    WITH e AS (SELECT user_id, event_id,
                      CAST(floor((value - 50.0) * 1000000) AS BIGINT) AS dev,
                      epoch_us(ts) AS ts_us
               FROM events),
    p AS (SELECT user_id, event_id,
                 sum(dev) OVER w AS prefix
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING)),
    c AS (SELECT user_id, event_id,
                 prefix - least(min(prefix) OVER (PARTITION BY user_id
                       ORDER BY event_id ROWS UNBOUNDED PRECEDING),
                       CAST(0 AS BIGINT)) AS cusum
          FROM p)
    SELECT user_id,
           CAST(max(cusum) AS BIGINT) AS max_cusum_micro,
           CAST(count(CASE WHEN cusum > 500000000 THEN 1 END) AS BIGINT)
             AS n_alarms
    FROM c GROUP BY user_id
    """,
)
def cusum_drift_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential change-point monitor: per-user upward CUSUM of event
    values against the corpus mean, via the prefix - running-min
    identity (two shared-exchange window passes, no fold). Output:
    max score + alarm count (threshold 500). NB the oracle orders the
    running-min by event_id — valid because the prefix rows are
    already in (ts, event_id) order and event_id is unique per user
    here; the Spark side orders by (ts, event_id) directly."""
    from petastorm_spark.operators.stateful import cusum_scores
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    # micro-unit integer deviations against the in-control level 50.0:
    # integer running sums are EXACT, so the oracle matches bit-for-bit
    # (double prefix sums differ in the last ulp across engines -
    # DuckDB's windowed sum uses segment-tree summation order)
    ev = ev.withColumn("ts_us", events_ts_us(ev)).withColumn(
        "dev_micro",
        F.floor((F.col("value") - 50.0) * 1000000).cast("bigint"),
    )
    scored = cusum_scores(
        ev, "user_id", "ts_us", "dev_micro", F.lit(0), tie_col="event_id"
    )
    return scored.groupBy("user_id").agg(
        F.max("cusum").cast("bigint").alias("max_cusum_micro"),
        F.count(F.when(F.col("cusum") > 500_000_000, 1)).cast("bigint").alias(
            "n_alarms"
        ),
    )


# ---------------------------------------------------------------------------
# Round-6 additions: CCNet perplexity buckets, DSIR importance weights,
# TF-IDF keywords, cross-source duplication matrix, Z-order layout.
# ---------------------------------------------------------------------------

_LP_CTES = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
         v AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         t AS (SELECT sum(c) AS total FROM v),
         lp AS (SELECT doc_id, round(avg(ln(c * 1.0 / total)), 4) AS logprob
                FROM tok JOIN v USING (tok), t GROUP BY doc_id)
"""


@register(
    "perplexity_buckets_lang",
    oracle=_LP_CTES
    + """
    , j AS (SELECT d.doc_id, d.lang, lp.logprob,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY logprob DESC, d.doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents d JOIN lp ON lp.doc_id = d.doc_id)
    SELECT doc_id, lang, logprob,
           CASE WHEN rn <= ceil(n / 3.0) THEN 'head'
                WHEN rn <= ceil(2 * n / 3.0) THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM j
    """,
)
def perplexity_buckets_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): each
    language's documents cut into head/middle/tail thirds by LM-proxy
    quality rank — the standard precursor to per-bucket sampling
    rates. Rank-cut, not percentile-threshold, so the labels are
    engine-exact. Scale: unigram-logprob plan + ONE lang-keyed window
    exchange (rank and count share it)."""
    from petastorm_spark.operators.sampling_extra import perplexity_buckets

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return perplexity_buckets(d, "text", "doc_id", "lang")


def _dsir_oracle(n_buckets: int = 1024, seed: int = 0) -> str:
    from petastorm_spark.operators.dedup import hash60_sql

    h = hash60_sql("tok", seed=seed)
    return f"""
    WITH occ AS (SELECT doc_id,
                        (source IN ('src0', 'src1', 'src2')) AS tgt,
                        {h} % {n_buckets} AS b
                 FROM (SELECT doc_id, source, unnest({_TOK}) AS tok
                       FROM documents)),
         c AS (SELECT b, count(*) AS cr,
                      sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
               FROM occ GROUP BY b),
         t AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM c),
         r AS (SELECT b, ln(((ct + 0.5) / (nt + 0.5 * {n_buckets}))
                           / ((cr + 0.5) / (nr + 0.5 * {n_buckets}))) AS lr
               FROM c, t)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lr), 4) AS dsir_logweight
    FROM occ JOIN r USING (b)
    GROUP BY doc_id
    """


@register("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document scored
    by ln-likelihood-ratio of its hashed unigram features under a
    curated TARGET slice (sources src0-src2) vs the raw corpus — the
    "select crawl data that looks like my curated set" signal.
    Positive = target-like. Scale: one explode feeds both bucket
    counts in one partial-agg pass; the 1024-row ratio table
    broadcasts back; shuffle keys are integer buckets, never token
    strings."""
    from petastorm_spark.operators.sampling_extra import dsir_weights

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dsir_weights(
        d, "text", "doc_id", F.col("source").isin("src0", "src1", "src2")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                FROM (SELECT doc_id, unnest({_TOK}) AS tok FROM documents)
                GROUP BY doc_id, term),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         idf AS (SELECT term, ln((1 + n) * 1.0 / (1 + count(*))) + 1 AS idf
                 FROM tf, n GROUP BY term, n),
         s AS (SELECT doc_id, term,
                      floor(tf * idf * 10000) / 10000 AS tfidf
               FROM tf JOIN idf USING (term)),
         r AS (SELECT doc_id, term, tfidf,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rank
               FROM s)
    SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by smoothed TF-IDF —
    keyword extraction / cluster labeling. Ranking orders by the
    floor-scaled score so rank boundaries are engine-exact. Scale: the
    per-doc top-k window sees one row per DISTINCT (doc, term); the
    idf table broadcasts."""
    from petastorm_spark.operators.text import tfidf_top_terms

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(d, "text", "doc_id", k=3)


def _source_matrix_oracle() -> str:
    inter = "len(list_intersect(sa.s, sb.s))"
    jac = f"{inter} * 1.0 / (len(sa.s) + len(sb.s) - {inter})"
    return (
        _DOCS_CTE
        + _lsh_cand_ctes()
        + f"""
    , src AS (SELECT doc_id, source FROM documents
              UNION ALL
              SELECT doc_id + {_COPY_SHIFT} AS doc_id, 'recrawl' AS source
              FROM documents)
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b,
           count(*) AS n_pairs
    FROM cand
    JOIN sets sa ON sa.doc_id = id_a
    JOIN sets sb ON sb.doc_id = id_b
    JOIN src s1 ON s1.doc_id = id_a
    JOIN src s2 ON s2.doc_id = id_b
    WHERE {jac} >= 0.8
    GROUP BY source_a, source_b
    """
    )


@register("dedup_source_matrix", oracle=_source_matrix_oracle())
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs rolled up by
    UNORDERED source pair — "which ingest feeds copy each other", the
    first diagnostic a curation run prints before deciding what to
    drop. The synthetic copies are labeled as a 'recrawl' snapshot, so
    every original source shows its duplication edge against the
    recrawl. Scale: the near_dup_pairs plan (persisted shingle sets,
    banded LSH, id-keyed verify) plus two broadcast-sized source
    lookups and a tiny (source x source) aggregate."""
    from petastorm_spark.operators.dedup import near_dup_pairs

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text", "source")
    base = d.select("doc_id", "text")
    copies = base.select(
        (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"), "text"
    )
    pairs = near_dup_pairs(
        base.unionByName(copies), "text", "doc_id", threshold=0.8
    )
    src = d.select("doc_id", "source").unionByName(
        d.select(
            (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
            F.lit("recrawl").alias("source"),
        )
    )
    sa = src.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "source", "_sa"
    )
    sb = src.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "source", "_sb"
    )
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _zorder_oracle(bits: int = 10, tile: int = 1024) -> str:
    from petastorm_spark.operators.layout import zorder_value_sql

    z = zorder_value_sql(["ub", "dy"], bits=bits)
    return f"""
    WITH e AS (SELECT user_id // 8 AS ub,
                      epoch_us(ts) // 86400000000 AS dy
               FROM events),
         zv AS (SELECT ub, dy, {z} AS z FROM e)
    SELECT z // {tile} AS z_tile,
           count(*) AS n_events,
           min(ub) AS min_user_bucket, max(ub) AS max_user_bucket,
           min(dy) AS min_day, max(dy) AS max_day
    FROM zv GROUP BY z_tile
    """


@register("zorder_event_tiles", oracle=_zorder_oracle())
def zorder_event_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout math over events: interleave the bits
    of (user bucket, day) and aggregate per curve tile — each tile's
    tight min/max box on BOTH dimensions is exactly the file-level
    parquet statistic a z-ordered write produces, i.e. why scans prune
    on either column after ``layout.zorder_repartition``. All integer
    shift/mask arithmetic, engine-exact, zero shuffle before the tiny
    tile aggregate."""
    from petastorm_spark.operators.layout import int_bucket, zorder_value
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.withColumn("_ts_us", events_ts_us(ev)).select(
        F.expr("user_id div 8").alias("ub"),
        F.expr("_ts_us div 86400000000").alias("dy"),
    )
    z = zorder_value(["ub", "dy"], bits=10)
    return (
        e.withColumn("_z", z)
        .groupBy(F.expr("_z div 1024").alias("z_tile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ub").alias("min_user_bucket"),
            F.max("ub").alias("max_user_bucket"),
            F.min("dy").alias("min_day"),
            F.max("dy").alias("max_day"),
        )
    )


@register(
    "histogram_order_prices",
    oracle="""
    WITH r AS (SELECT o_totalprice AS v,
                      row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                        AS rn
               FROM orders),
         n AS (SELECT count(*) AS n FROM orders)
    SELECT ((rn - 1) * 16) // n AS bin,
           count(*) AS n_rows,
           round(min(v), 2) AS lo, round(max(v), 2) AS hi
    FROM r, n GROUP BY bin
    """,
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram of order prices (16 bins of equal
    row count ±1) — optimizer-grade column statistics with zero
    sampling error. The oracle uses a single global window; the Spark
    side uses operators.rank.global_rank: range repartition +
    partition-local ordinals + a broadcast offset table — NO
    single-task sort anywhere, the shape that survives 100 TB."""
    from petastorm_spark.operators.rank import histogram_equidepth

    o = _t(spark, sf_dir, "orders")
    h = histogram_equidepth(o, "o_totalprice", ["o_orderkey"], n_bins=16)
    return h.select(
        "bin", "n_rows",
        F.round("lo", 2).alias("lo"), F.round("hi", 2).alias("hi"),
    )


def _leakage_split_oracle() -> str:
    cc = _cc_oracle()
    frac = (
        "(('0x'||substr(md5('7|' || CAST(cluster_id AS VARCHAR)),1,15))"
        "::BIGINT / 1152921504606846976.0)"
    )
    return f"""
    WITH labels AS ({cc}),
         d AS (SELECT doc_id FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id FROM documents),
         j AS (SELECT d.doc_id,
                      coalesce(labels.cluster_id, d.doc_id) AS cluster_id
               FROM d LEFT JOIN labels ON labels.doc_id = d.doc_id)
    SELECT doc_id, cluster_id,
           CASE WHEN {frac} < 0.8 THEN 'train'
                WHEN {frac} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM j
    """


@register("split_leakage_safe", oracle=_leakage_split_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is the
    near-dup CLUSTER id, not the document id, so near-copies can never
    straddle train and eval — the contamination mode naive splits
    miss. On this fixture every doc and its synthetic copy must land
    in the same split. Scale: CC labels (dup-cluster-sized) broadcast
    onto one corpus map; assignment is a key-stable md5 fraction."""
    from petastorm_spark.operators.dedup import (
        leakage_safe_split,
        near_dup_pairs,
    )

    docs = _docs_with_copies(spark, sf_dir)
    pairs = near_dup_pairs(docs, "text", "doc_id", threshold=0.8)
    out = leakage_safe_split(
        docs, pairs, "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7,
    )
    return out.select("doc_id", "cluster_id", "split")


def _corr_oracle() -> str:
    # HUGEINT (int128) sums are exact like Spark's DECIMAL(38,0); the
    # double combination mirrors the operator's expression tree exactly
    # (only correctly-rounded IEEE ops, so the doubles agree bit-level)
    def h(expr: str) -> str:
        return f"CAST(sum(CAST(round({expr}, 0) AS HUGEINT)) AS DOUBLE)"

    pairs = [
        ("l_discount", "l_extendedprice"),
        ("l_discount", "l_quantity"),
        ("l_extendedprice", "l_quantity"),
    ]
    sel = []
    for a, b in pairs:
        num = f"(n * sp_{a}_{b} - s_{a} * s_{b})"
        va = f"(n * ss_{a} - s_{a} * s_{a})"
        vb = f"(n * ss_{b} - s_{b} * s_{b})"
        sel.append(
            f"CASE WHEN {va} > 0 AND {vb} > 0 THEN "
            f"floor({num} / sqrt({va} * {vb}) * 1000000) / 1000000 "
            f"END AS corr_{a}_{b}"
        )
    scaled = {
        "l_discount": "l_discount * 100",
        "l_extendedprice": "l_extendedprice * 100",
        "l_quantity": "l_quantity * 1",
    }
    aggs = ["CAST(count(*) AS DOUBLE) AS n"]
    for c, e in scaled.items():
        aggs.append(f"{h(e)} AS s_{c}")
        aggs.append(
            f"CAST(sum(CAST(round({e}, 0) AS HUGEINT)"
            f" * CAST(round({e}, 0) AS HUGEINT)) AS DOUBLE) AS ss_{c}"
        )
    for a, b in pairs:
        aggs.append(
            f"CAST(sum(CAST(round({scaled[a]}, 0) AS HUGEINT)"
            f" * CAST(round({scaled[b]}, 0) AS HUGEINT)) AS DOUBLE)"
            f" AS sp_{a}_{b}"
        )
    return f"""
    WITH s AS (SELECT l_returnflag, {', '.join(aggs)}
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, {', '.join(sel)}
    FROM s
    """


@register("corr_lineitem_matrix", oracle=_corr_oracle())
def corr_lineitem_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact Pearson correlation matrix of (discount, price,
    quantity) per return flag: sufficient statistics accumulate as
    scaled-integer DECIMAL(38,0)/HUGEINT sums (no float summation-
    order drift), the combination uses only correctly-rounded IEEE
    double ops — so even this floating-point statistic hash-matches
    across engines. Scale: ONE partially-aggregated pass, output is
    group-cardinality-sized."""
    from petastorm_spark.operators.diagnostics import corr_matrix_exact

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix_exact(
        li,
        {"l_discount": 2, "l_extendedprice": 2, "l_quantity": 0},
        group_col="l_returnflag",
    )


@register(
    "hard_negatives_labeled",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS ql
          FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, label AS cl FROM e),
    s AS (SELECT query_id, neighbor_id, {_COS} AS cos
          FROM q, c WHERE neighbor_id != query_id AND cl != ql),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= 3
    """,
)
def hard_negatives_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: each query vector's 3 most similar
    OTHER-label corpus vectors — the decision-boundary negatives
    contrastive training wants. Scale: the exact-top-k plan with the
    label filter riding the scored stream."""
    from petastorm_spark.operators.similarity import hard_negative_mining

    emb = _t_wide(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb, emb.where(F.col("vec_id") < 10), k=3
    )


def _recall_oracle(k: int = 5) -> str:
    return f"""
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({_lsh_planes_sql()} AS INT) AS bucket FROM e0),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
    sl AS (SELECT query_id, neighbor_id, {_COS} AS cos
           FROM q JOIN cb USING (bucket) WHERE neighbor_id != query_id),
    rl AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM sl),
    approx AS (SELECT query_id, neighbor_id FROM rl WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e0 WHERE vec_id < 10),
    ce AS (SELECT vec_id AS neighbor_id, v AS cv FROM e0),
    se AS (SELECT query_id, neighbor_id, {_COS} AS cos
           FROM qe, ce WHERE neighbor_id != query_id),
    re AS (SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM se),
    exact AS (SELECT query_id, neighbor_id FROM re WHERE rank <= {k})
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           count(a.neighbor_id) / {float(k)} AS recall
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def _recall_ivf_oracle(n_cells: int = 16, n_probe: int = 3, k: int = 5) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    qp AS (SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c WHERE e.vec_id < 10) WHERE rn <= {n_probe}),
    s AS (SELECT query_id, ca.vec_id AS neighbor_id, {cos('qp.qv', 'ca.v')} AS cos
          FROM qp JOIN ca USING (cell) WHERE ca.vec_id != query_id),
    approx AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM s) WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos('qe.qv', 'ce.v')} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank <= {k})
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           count(a.neighbor_id) / {float(k)} AS recall
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register("ann_recall_ivf", oracle=_recall_ivf_oracle())
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report for the IVF index: per-query recall@5 of
    3-probe IVF against exact brute force — the number that decides
    whether n_probe/n_cells need retuning, completing the recall
    tooling across both index families (LSH twin: ann_recall_lsh).
    Scale: both inputs are top-k RESULTS (k rows per query); the
    comparison join never touches vectors."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_ivf,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_ivf(emb, q, k=5, n_cells=16, n_probe=3)
    return ann_recall_report(exact, approx, k=5)


@register("ann_recall_lsh", oracle=_recall_oracle())
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report: per-query recall@5 of the 8-plane LSH
    index against exact brute force — the tuning number an ANN
    deployment watches. Scale: both sides are top-k RESULTS (k rows
    per query); the comparison join never touches vectors."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_lsh(emb, q, k=5)
    return ann_recall_report(exact, approx, k=5)


# Copies disguised by case + punctuation noise: invisible to raw exact
# dedup, collapsed by normalize_text. regexp parity: both engines strip
# non-alphanumeric runs to one space after lowercasing.
_NOISY_DOCS_CTE = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id,
                      upper(text) || '!!!' AS text
               FROM documents)
"""


@register(
    "dedup_exact_normalized",
    oracle=_NOISY_DOCS_CTE
    + """
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             AS digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM d GROUP BY digest
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over NORMALIZED text: copies disguised by case
    flips and punctuation noise (invisible to raw md5 dedup) collapse
    once the digest is taken over ``normalize_text`` output — every
    group on this fixture must have exactly 2 copies. Scale: identical
    to dedup_exact (one digest shuffle); normalization is a map-side
    expression."""
    from petastorm_spark.operators.dedup import exact_dedup
    from petastorm_spark.operators.text import normalize_text

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = d.unionByName(
        d.select(
            (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("!!!")).alias("text"),
        )
    )
    canon = noisy.withColumn("text", normalize_text("text"))
    return exact_dedup(canon, "text", "doc_id")


# corpus-adaptive quantizer size shared by the semantic-dedup queries
# and their oracles: cells grow with the corpus so per-cell population
# (and thus the cell-confined quadratic work) stays ~constant — the
# property that makes SemDeDup linear at 100 TB. floor keeps tiny
# fixtures at the historical fixed size, so sf0.01/sf0.1 results are
# bit-identical to the pre-adaptive registrations.
def _adaptive_cells(n: int, target: int, floor: int) -> int:
    return max(floor, -(-n // target))


def _adaptive_cells_sql(target: int, floor: int) -> str:
    return (
        f"(SELECT greatest({floor}, CAST(ceil(count(*) / {target}.0) AS "
        "BIGINT)) FROM e)"
    )


def _semantic_dedup_oracle(
    cell_target: int = 256, cell_floor: int = 16, tau: float = 0.95
) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    n_cells = _adaptive_cells_sql(cell_target, cell_floor)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               UNION ALL
               SELECT vec_id + {_COPY_SHIFT}, embedding::DOUBLE[] FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    p AS (SELECT a.vec_id AS ka, b.vec_id AS kb, {cos('a.v', 'b.v')} AS cos
          FROM ca a JOIN ca b USING (cell) WHERE a.vec_id < b.vec_id)
    SELECT kb AS removed_id, min(ka) AS witness_id,
           CAST(count(*) AS BIGINT) AS n_witnesses, round(max(cos), 4) AS max_cos
    FROM p WHERE cos >= {tau}
    GROUP BY kb
    """


def _semantic_incremental_oracle(
    cell_target: int = 256, cell_floor: int = 16, tau: float = 0.95
) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    n_cells = _adaptive_cells_sql(cell_target, cell_floor)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    nb AS (SELECT vec_id + {_COPY_SHIFT} AS new_id, v FROM e WHERE vec_id < 100),
    na AS (SELECT new_id, v, cell FROM (
        SELECT n.new_id, n.v, c.cell,
               row_number() OVER (PARTITION BY n.new_id
                                  ORDER BY {cos('n.v', 'c.cv')} DESC, c.cell) AS rn
        FROM nb n, cent c) WHERE rn = 1)
    SELECT n.new_id, o.vec_id AS old_id, round({cos('n.v', 'o.v')}, 4) AS cos
    FROM na n JOIN ca o USING (cell)
    WHERE n.new_id != o.vec_id AND {cos('n.v', 'o.v')} >= {tau}
    """


@register("dedup_semantic_incremental", oracle=_semantic_incremental_oracle())
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup: a new embedding batch (the first 100
    vectors re-issued under shifted ids) deduped against the IVF
    index of the existing corpus — the embedding twin of
    incremental_near_dup_batch and the production shape of semantic
    dedup on a growing corpus: batch-sized work against a persisted,
    cell-pruned vector table (ivf_write/ivf_read + ivf_append; disk
    round-trip and partition pruning pinned by tests). Each re-issued
    vector must surface its original at cos 1.0. See
    operators/similarity.incremental_semantic_dedup."""
    from petastorm_spark.operators.similarity import (
        incremental_semantic_dedup,
        ivf_build,
    )

    emb = _t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = _t(spark, sf_dir, "embeddings").count()
    cent, assigned = ivf_build(
        emb, "vec_id", "embedding", n_cells=_adaptive_cells(n, 256, 16)
    )
    new = emb.where(F.col("vec_id") < 100).select(
        (F.col("vec_id") + _COPY_SHIFT).alias("vec_id"), "embedding"
    )
    return incremental_semantic_dedup(
        new, cent, assigned, "vec_id", "embedding", threshold=0.95
    )


@register("dedup_semantic", oracle=_semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-scoped semantic dedup — corpus bucketed by
    nearest coarse centroid (the deterministic lowest-id quantizer the
    oracle rebuilds), cosine scored only within a cell, every vector
    with a lower-id neighbor >= 0.95 dropped. The synthetic identical
    copies land in their originals' cells (cos 1.0 with the same
    centroid) so each must surface exactly once. Scale: n_cells is
    CORPUS-ADAPTIVE (~256 vectors/cell, floor 16 — the oracle computes
    the same formula), so per-cell quadratic work stays constant and
    total cost linear as the corpus grows; assignment is one
    broadcast-centroid scan and the pair join reuses one exchange for
    both sides. The sizing count-star is metadata-only on parquet."""
    from petastorm_spark.operators.similarity import semantic_dedup

    n = 2 * _t(spark, sf_dir, "embeddings").count()
    emb = _t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = emb.unionByName(
        emb.select((F.col("vec_id") + _COPY_SHIFT).alias("vec_id"), "embedding")
    )
    return semantic_dedup(
        both,
        "vec_id",
        "embedding",
        n_cells=_adaptive_cells(n, 256, 16),
        threshold=0.95,
    )


_QC_BUCKET = "((('0x'||substr(md5('qc0|'||tok),1,15))::BIGINT) % 1024)"
_QC_W = (
    "(2*((('0x'||substr(md5('w0|'||CAST(j AS VARCHAR)),1,15))::BIGINT)"
    "/1152921504606846976.0) - 1)"
)


@register(
    "quality_classifier",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
    b AS (SELECT doc_id, {_QC_BUCKET} AS j FROM tok),
    w AS (SELECT doc_id, {_QC_W} AS w FROM b),
    a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, avg(w) AS mw
          FROM w GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           round(1/(1+exp(-8*mw)), 4) AS score,
           (1/(1+exp(-8*mw))) >= 0.5 AS label
    FROM a
    """,
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear bag-of-words classifier inference at corpus scale — the
    fastText-style quality-filter pass every pretraining pipeline runs.
    Hashing-trick features (md5 -> 1024 buckets), per-doc score =
    sigmoid(8 * mean bucket weight); the deterministic pseudo-weights
    stand in for a trained model (feed one via ``weights=`` in
    production — the plan is identical). Scale: explode + pure JVM
    expressions + ONE partial-aggregated groupBy(doc); the shuffle
    carries per-doc partials only, never tokens."""
    from petastorm_spark.operators.text import linear_classifier_score

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return linear_classifier_score(d, "text", "doc_id", n_features=1024, seed=0)


def _bpe_oracle_sql(num_merges: int = 8) -> str:
    """Unrolled MATERIALIZED-CTE DuckDB ladder for ``num_merges`` BPE
    rounds — the pagerank/kcore oracle technique applied to tokenizer
    training. The only non-relational step of a BPE round, the greedy
    left-to-right merge fold, is expressed as a plain ``replace()``
    over a DOUBLE-DELIMITED symbol string: each symbol is wrapped as
    US+sym+US (US = chr(31)), so pattern US+a+US+US+b+US -> US+ab+US.
    ``replace`` scans left-to-right, never re-matching replacement
    text, which is exactly the fold: 'a a a a' under (a,a) merges to
    ('aa','aa') and 'a a a' to ('aa','a') — bit-identical to
    operators/bpe.merge_pair_expr. Round r argmaxes pair frequency
    (DESC, then lexicographic a, b — the Spark tie-break) over the
    delimited vocab v{r-1}; an empty argmax (best freq < 2) makes all
    later rounds empty, matching ``bpe_learn``'s early stop."""
    us = "chr(31)"
    d2 = f"{us}||{us}"
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT {us} || array_to_string(string_split(word, ''), {d2}) || {us} AS s,
         cnt
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest({_TOK}) AS word FROM documents)
        WHERE len(word) > 0 GROUP BY word))"""
    ]
    for r in range(1, num_merges + 1):
        p = r - 1
        ctes.append(
            f"""sy{r} AS (
  SELECT string_split(trim(s, {us}), {d2}) AS syms, cnt FROM v{p}),
m{r} AS MATERIALIZED (
  SELECT a, b, freq FROM (
    SELECT z[1] AS a, z[2] AS b, sum(cnt) AS freq
    FROM (SELECT unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS z, cnt
          FROM sy{r} WHERE len(syms) >= 2)
    GROUP BY a, b)
  WHERE freq >= 2 ORDER BY freq DESC, a, b LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT replace(v.s, {us}||m.a||{d2}||m.b||{us}, {us}||m.a||m.b||{us}) AS s,
         v.cnt
  FROM v{p} v, m{r} m)"""
        )
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, a AS left, b AS right, "
        f"CAST(freq AS BIGINT) AS freq FROM m{r}"
        for r in range(1, num_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@register("bpe_merges", oracle=_bpe_oracle_sql(8))
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training on the corpus: learn 8 BPE merges over the
    documents table and return the merge table (rank, left, right,
    freq) — deterministic (tie-break count DESC then lexicographic).
    Scale: the corpus collapses to its word-frequency table before any
    merge round; each round is one explode + partial-agg groupBy over
    |vocab| rows and ONE row to the driver. See operators/bpe.py."""
    from petastorm_spark.operators.bpe import bpe_learn

    d = _t_wide(spark, sf_dir, "documents").select("text")
    merges, vocab = bpe_learn(d, "text", num_merges=8)
    from petastorm_spark.session import arrow_local_df, release

    release(vocab)

    return arrow_local_df(
        spark,
        {
            "rank": [i + 1 for i in range(len(merges))],
            "left": [a for a, _, _ in merges],
            "right": [b for _, b, _ in merges],
            "freq": [f for _, _, f in merges],
        },
        "rank int, left string, right string, freq bigint",
    )


@register(
    "dataset_diff_docs",
    oracle="""
    WITH o AS (SELECT doc_id,
                      md5(concat_ws(chr(31), coalesce(text, chr(0)),
                                             coalesce(lang, chr(0)))) AS old_digest
               FROM documents WHERE doc_id % 5 != 0),
    n AS (SELECT doc_id,
                 md5(concat_ws(chr(31),
                     coalesce(CASE WHEN doc_id % 11 = 0 THEN upper(text)
                                   ELSE text END, chr(0)),
                     coalesce(lang, chr(0)))) AS new_digest
          FROM documents WHERE doc_id % 7 != 3)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           old_digest, new_digest
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR old_digest != new_digest
    """,
)
def dataset_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two dataset versions: rows dropped from
    the new snapshot, rows added, and rows whose (text, lang) content
    digest changed — the audit step between pipeline runs. The fixture
    carves old/new from documents with disjoint modular filters plus
    an uppercase edit, so all three statuses are non-empty. Scale:
    digests map-side, the full-outer join shuffles (key, digest) only,
    output is difference-sized."""
    from petastorm_spark.operators.diagnostics import dataset_diff

    d = _t_wide(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 5 != 0).select("doc_id", "text", "lang")
    new = (
        d.where(F.col("doc_id") % 7 != 3)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 11 == 0, F.upper("text"))
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
        )
    )
    return dataset_diff(old, new, "doc_id", ["text", "lang"])


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    base = f"{1.0 - damping}/nn.n"
    ctes = [
        """p AS (SELECT DISTINCT 'c'||CAST(o_custkey AS VARCHAR) AS c,
                                 's'||CAST(l_suppkey AS VARCHAR) AS s
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT c AS src, s AS dst FROM p UNION SELECT s, c FROM p),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0/nn.n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT no.node, {base} + {damping} * coalesce(c.s, 0) AS rank
      FROM nodes no CROSS JOIN nn
      LEFT JOIN (SELECT e.dst, sum(r{k-1}.rank / deg.deg) AS s
                 FROM e JOIN deg USING (src)
                 JOIN r{k-1} ON r{k-1}.node = e.src
                 GROUP BY e.dst) c ON c.dst = no.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


@register(
    "zipf_corpus_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK}) AS tok FROM documents),
    c AS (SELECT tok, count(*) AS freq FROM tok WHERE tok != ''
          GROUP BY tok),
    top AS (SELECT freq, tok FROM c ORDER BY freq DESC, tok LIMIT 500),
    r AS (SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok)
                         AS DOUBLE)) AS x,
                 ln(CAST(freq AS DOUBLE)) AS y
          FROM top),
    a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
           round(CASE WHEN (n*sxx - sx*sx) > 0
                      THEN (n*sxy - sx*sy) / (n*sxx - sx*sx)
                      ELSE 0.0 END, 4) AS zipf_slope,
           round(CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                      THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy)) /
                           ((n*sxx - sx*sx) * (n*syy - sy*sy))
                 END, 4) AS r2
    FROM a
    """,
)
def zipf_corpus_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus frequency distribution (top-500
    tokens): least-squares slope of ln(freq) vs ln(rank) + r^2 — the
    distribution-health number that flags synthetic or boilerplate-
    heavy corpora (natural text sits near slope -1). Scale: one
    vocabulary-sized aggregate, TakeOrdered top slice, five scalar
    sums; see operators/text.zipf_fit."""
    from petastorm_spark.operators.text import zipf_fit

    d = _t_wide(spark, sf_dir, "documents").select("text")
    return zipf_fit(d, "text", top_n=500)


@register(
    "assortativity_parts",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey % 2 = 0),
    e AS (SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                          greatest(x.l_partkey, y.l_partkey) AS b
          FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
          WHERE x.l_partkey <> y.l_partkey),
    deg AS (SELECT node, count(*) AS d
            FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY node),
    p AS (SELECT da.d AS x, db.d AS y
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b
          UNION ALL
          SELECT db.d, da.d
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b),
    a AS (SELECT count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x*y) AS BIGINT) AS sxy,
                 CAST(sum(x*x) AS BIGINT) AS sxx,
                 CAST(sum(y*y) AS BIGINT) AS syy
          FROM p)
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           round(CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                      THEN (n*sxy - sx*sy) /
                           sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
                                CAST(n*syy - sy*sy AS DOUBLE))
                 END, 4) AS assortativity
    FROM a
    """,
)
def assortativity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (even part
    keys, the triangle-census fixture): Pearson correlation of
    endpoint degrees over the symmetrized edge list — the topology
    fingerprint that separates hub-to-hub graphs from hub-to-leaf
    ones. All moments are exact bigint sums, so the only floats are
    one division and one sqrt (engine-identical). Scale: degree
    aggregate + two id-keyed joins + five scalar sums; see
    operators/graph.degree_assortativity."""
    from petastorm_spark.operators.graph import degree_assortativity

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 2 == 0)
    )
    x = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src")
    )
    y = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst")
    )
    edges = x.join(y, "_o").where(F.col("src") < F.col("dst")).select(
        "src", "dst"
    )
    return degree_assortativity(edges)


@register(
    "quantile_sketch_chars",
    oracle="""
    WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
               WHERE n_chars > 0),
    b AS (SELECT source, v, length(bin(v)) - 1 AS p FROM v),
    s AS (SELECT source, p, v >> greatest(p - 3, 0) AS m FROM b),
    h AS (SELECT source, p, m, count(*) AS cnt,
                 m << greatest(p - 3, 0) AS lower
          FROM s GROUP BY source, p, m),
    c AS (SELECT source, p, m, cnt, lower,
                 sum(cnt) OVER (PARTITION BY source ORDER BY p, m) AS cum,
                 sum(cnt) OVER (PARTITION BY source) AS n
          FROM h)
    SELECT source, CAST(max(n) AS BIGINT) AS n_values,
           min(CASE WHEN cum * 100 >= 50 * n THEN lower END) AS p50,
           min(CASE WHEN cum * 100 >= 90 * n THEN lower END) AS p90,
           min(CASE WHEN cum * 100 >= 99 * n THEN lower END) AS p99
    FROM c GROUP BY source
    """,
)
def quantile_sketch_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 of document length from the log2
    histogram quantile sketch — bounded-state (<=512 buckets/group),
    mergeable, <= 12.5% relative error, and PURE-INTEGER binning so
    the sketch is bit-exact across engines (t-digest/KLL are not).
    The quantile member of the sketch family next to HLL / count-min /
    KMV. Scale: one partial-agg groupBy carries buckets, never values;
    the quantile window runs over the sketch. See
    operators/sketch.log2_histogram / histogram_quantiles."""
    from petastorm_spark.operators.sketch import (
        histogram_quantiles,
        log2_histogram,
    )

    d = _t_wide(spark, sf_dir, "documents").select("source", "n_chars")
    h = log2_histogram(d, "n_chars", ["source"], sub_bits=3)
    return histogram_quantiles(h, ["source"], probs_pct=[50, 90, 99])


def _purchase_edges_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-supplier purchase pairs (NOT deduplicated — callers
    that need distinct edges add it) with BIGINT node ids (customer
    k -> 2k, supplier k -> 2k+1): the iterative graph ladders shuffle
    node ids every round, and 8-byte ints cut the exchange payload and
    comparison cost that 'c123'/'s45' strings pay (measured 4.6s ->
    3.3s on the sf0.1 kcore ladder). Decode back to the oracle's
    string ids with :func:`_decode_purchase_node` only on final
    output — the dictionary-encode-before-iterating trick."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(l, o.o_orderkey == l.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    )


def _decode_purchase_node(col: str, out: str = "node"):
    n = F.col(col)
    return (
        F.when(
            n % 2 == 0,
            F.concat(F.lit("c"), (n / 2).cast("bigint").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s"), ((n - 1) / 2).cast("bigint").cast("string"))
        )
        .alias(out)
    )


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    # every CTE is MATERIALIZED: each round references the previous one
    # three times (degree scan + two membership filters), so inlining
    # would expand the ladder 3^rounds-fold and exhaust file handles on
    # the base scan
    ctes = [
        """e0 AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS b
        FROM orders o JOIN lineitem l
          ON o.o_orderkey = l.l_orderkey)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""d{r} AS MATERIALIZED (SELECT node, count(*) AS d
                 FROM (SELECT a AS node FROM e{p}
                       UNION ALL SELECT b FROM e{p})
                 GROUP BY node),
    s{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {k}),
    e{r} AS MATERIALIZED (SELECT a, b FROM e{p}
             WHERE a IN (SELECT node FROM s{r})
               AND b IN (SELECT node FROM s{r}))"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
    GROUP BY node"""
    )


@register("kcore_purchase_graph", oracle=_kcore_oracle(k=3, rounds=3))
def kcore_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the customer-supplier purchase graph (same bipartite
    fixture as pagerank_purchases): iteratively peel nodes with fewer
    than 3 distinct trading partners until stable (3 fixed rounds — the
    fixture converges by round 2; the
    oracle unrolls the identical ladder) — the dense-subgraph signal
    that separates engaged entities from one-off fringes in link-graph
    curation. Output: surviving (node, in-core degree). Scale: each
    round is one partial-agg degree count + two semi-joins, edge-scale
    exchanges only, round-deep lineage; see
    operators/graph.kcore_decompose."""
    from petastorm_spark.operators.graph import kcore_decompose

    core = kcore_decompose(
        _purchase_edges_encoded(spark, sf_dir).selectExpr(
            "c AS src", "s AS dst"
        ),
        k=3,
        max_rounds=3,
    )
    return core.select(_decode_purchase_node("node"), "deg")


def _lpa_oracle(rounds: int = 3) -> str:
    ctes = [
        """li AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey % 2 = 0),
    e AS MATERIALIZED (SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                              greatest(x.l_partkey, y.l_partkey) AS b
          FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
          WHERE x.l_partkey <> y.l_partkey),
    sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""ct{r} AS MATERIALIZED (
        SELECT s.a AS node, l{p}.label, count(*) AS c
        FROM sym s JOIN l{p} ON l{p}.node = s.b
        GROUP BY s.a, l{p}.label),
    l{r} AS MATERIALIZED (
        SELECT ct{r}.node, min(ct{r}.label) AS label
        FROM ct{r} JOIN (SELECT node, max(c) AS mc FROM ct{r}
                         GROUP BY node) m
          ON m.node = ct{r}.node AND ct{r}.c = m.mc
        GROUP BY ct{r}.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, label FROM l{rounds}"
    )


@register("label_propagation_parts", oracle=_lpa_oracle())
def label_propagation_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph: 3 rounds of
    synchronous label propagation (most-frequent neighbor label,
    smallest-label tie-break — fully deterministic, so the oracle
    unrolls the identical ladder). The density-based clustering next
    to reachability-based dedup_clusters. Scale: per round one
    label-keyed join + partial-agg count + two-phase argmax, all
    edge-scale; rounds cut with eager localCheckpoint. See
    operators/graph.label_propagation."""
    from petastorm_spark.operators.graph import label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 2 == 0)
    )
    x = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src")
    )
    y = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst")
    )
    edges = x.join(y, "_o").where(F.col("src") < F.col("dst")).select(
        "src", "dst"
    )
    return label_propagation(edges, rounds=3)


@register(
    "triangle_census_parts",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey % 2 = 0),
    e AS (SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                          greatest(x.l_partkey, y.l_partkey) AS b
          FROM li x JOIN li y
            ON x.l_orderkey = y.l_orderkey
          WHERE x.l_partkey <> y.l_partkey),
    deg AS (SELECT node, count(*) AS d
            FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY node),
    w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT n_triangles, n_wedges,
           round(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END,
                 6) AS clustering_coeff
    FROM t, w
    """,
)
def triangle_census_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order are linked): global triangle count, wedge count, and
    clustering coefficient — the triad statistics link-graph quality
    features read. The oracle counts triangles by plain id-ordering
    (a<b<c three-way join); the operator's degree-ordered orientation
    emits the identical set, each triangle exactly once. The fixture
    decimates to even part keys — the full co-purchase graph at sf0.1
    has 148M wedges, a stress run, not a regression bench. Scale: the
    edge build explodes per order (order sizes are bounded), and
    triangle_census's wedge stage is sum(out_deg^2) under the minimal
    degree orientation — hub-proof; see operators/graph.py."""
    from petastorm_spark.operators.graph import triangle_census

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 2 == 0)
    )
    x = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src")
    )
    y = li.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst")
    )
    edges = x.join(y, "_o").where(F.col("src") < F.col("dst")).select(
        "src", "dst"
    )
    return triangle_census(edges)


def _ppr_oracle(
    iters: int = 5, damping: float = 0.85, n_seeds: int = 5
) -> str:
    seed_list = ", ".join(f"'c{i}'" for i in range(1, n_seeds + 1))
    s = (
        f"CASE WHEN no.node IN ({seed_list}) "
        f"THEN {1.0 / n_seeds} ELSE 0.0 END"
    )
    ctes = [
        f"""p AS (SELECT DISTINCT 'c'||CAST(o_custkey AS VARCHAR) AS c,
                                 's'||CAST(l_suppkey AS VARCHAR) AS s
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT c AS src, s AS dst FROM p UNION SELECT s, c FROM p),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    r0 AS (SELECT no.node, {s} AS rank FROM nodes no)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT no.node, {1.0 - damping} * ({s}) + {damping} * coalesce(c.s, 0) AS rank
      FROM nodes no
      LEFT JOIN (SELECT e.dst, sum(r{k-1}.rank / deg.deg) AS s
                 FROM e JOIN deg USING (src)
                 JOIN r{k-1} ON r{k-1}.node = e.src
                 GROUP BY e.dst) c ON c.dst = no.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


@register("pagerank_personalized", oracle=_ppr_oracle())
def pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: random-walk-with-restart relevance of
    every node in the customer-supplier purchase graph TO the seed set
    {c1..c5} (5 iterations, damping 0.85) — the seeded-recommendation
    / topic-scoped-quality primitive next to global
    pagerank_purchases. Unreachable nodes report rank 0 (a post-filter
    on the computed rank triples plan cost — constraint pushdown
    re-derives the whole 5-round ladder on both sides of every join;
    measured 2.2s -> 6.4s — so callers filter AFTER materializing if
    they need the neighborhood only). Scale: identical
    ladder to pagerank (one rank-keyed equi-join + partial-agg
    groupBy per round); the restart vector is an isin literal over 5
    seeds. See operators/graph.pagerank(seeds=...)."""
    from petastorm_spark.operators.graph import pagerank

    pairs = _purchase_edges_encoded(spark, sf_dir).distinct()
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(
        edges, iters=5, damping=0.85, seeds=[2 * i for i in range(1, 6)]
    )
    return pr.select(_decode_purchase_node("node"), "rank")


@register("pagerank_purchases", oracle=_pagerank_oracle())
def pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the symmetrized customer-supplier
    purchase graph (who trades with whom, via orders x lineitem) — the
    link-graph feature web-corpus quality filters compute at host
    level. 5 power iterations, damping 0.85; the oracle unrolls the
    identical ladder as 5 CTEs. Scale: per iteration ONE rank-keyed
    equi-join + one partial-agg groupBy(dst); ranks re-persisted per
    round, lineage flat, driver holds only counts. See
    operators/graph.py."""
    from petastorm_spark.operators.graph import pagerank

    pairs = _purchase_edges_encoded(spark, sf_dir).distinct()
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, iters=5, damping=0.85)
    return pr.select(_decode_purchase_node("node"), "rank")


@register(
    "inverted_index_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct({_TOK})) AS term
                 FROM documents),
    g AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                 list_sort(list(doc_id)) AS postings
          FROM tok WHERE term != '' GROUP BY term)
    SELECT term, df,
           array_to_string(list_transform(postings[1:1000],
                                          x -> CAST(x AS VARCHAR)), ',')
               AS postings_csv
    FROM g WHERE df >= 2
    """,
)
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline search-index build: term -> (document frequency, sorted
    posting list, capped at 1000) over the corpus — what BM25 serving
    reads. Scale: distinct-terms explode + ONE groupBy(term); the cap
    bounds stop-word rows while df stays exact. The registered query
    flattens the posting list to a CSV string (``postings_csv``) so
    the result is driver-hashable; the operator API keeps the real
    ``array<bigint>`` column."""
    from petastorm_spark.operators.text import inverted_index

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    idx = inverted_index(d, "text", "doc_id", min_df=2, max_postings=1000)
    return idx.select(
        "term",
        "df",
        F.array_join(
            F.transform("postings", lambda c: c.cast("string")), ","
        ).alias("postings_csv"),
    )


@register(
    "pmi_collocations",
    oracle=f"""
    WITH tok AS (SELECT {_TOK} AS t FROM documents),
    pr AS (SELECT unnest(flatten([
               list_transform(range(1, len(t)), i ->
                   [least(t[i], t[i+1]), greatest(t[i], t[i+1])]),
               list_transform(range(1, len(t) - 1), i ->
                   [least(t[i], t[i+2]), greatest(t[i], t[i+2])])
           ])) AS p FROM tok),
    pairs AS (SELECT p[1] AS a, p[2] AS b FROM pr),
    pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS pair_count
           FROM pairs GROUP BY a, b HAVING count(*) >= 5),
    uni AS (SELECT unnest({_TOK}) AS tok FROM documents),
    uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    tot AS (SELECT (SELECT count(*) FROM pairs) AS tp,
                   (SELECT count(*) FROM uni) AS tu)
    SELECT pc.a, pc.b, pair_count,
           round(ln((pair_count * 1.0 / tp) /
                    ((ca.c * 1.0 / tu) * (cb.c * 1.0 / tu))), 4) AS pmi
    FROM pc JOIN uc ca ON ca.tok = pc.a
            JOIN uc cb ON cb.tok = pc.b, tot
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: PMI of token pairs co-occurring within a
    +/-2 skip-gram window (the word2vec-era association statistic,
    still the fastest corpus-level phrase detector). Scale: pairs are
    per-row explodes — no positional self-join — and both count
    tables partial-aggregate before shuffling; corpus totals ride a
    1-row broadcast."""
    from petastorm_spark.operators.text import pmi_cooccurrence

    d = _t_wide(spark, sf_dir, "documents").select("text")
    return pmi_cooccurrence(d, "text", window=2, min_pair_count=5)


@register(
    "dedup_threshold_curve",
    oracle=f"""
    WITH nd AS ({_near_dup_oracle(threshold=0.0)})
    SELECT thr, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed
    FROM nd, (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(thr)
    WHERE jaccard >= thr
    GROUP BY thr
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tune the dedup knob in ONE pass: the attrition curve over
    Jaccard thresholds 0.5-0.9 — per threshold, surviving candidate
    pairs and docs that would be removed (keep-lowest policy) — from a
    single LSH-candidates + exact-verify run, thresholds applied by a
    5-way explode of the (tiny) verified pair table. What you consult
    before committing a threshold to a 100 TB sweep; no re-scan per
    setting."""
    from petastorm_spark.operators.dedup import near_dup_pairs

    pairs = near_dup_pairs(
        _docs_with_copies(spark, sf_dir), "text", "doc_id",
        threshold=0.0, num_hashes=16, bands=4, shingle_n=3,
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
    ).alias("thr")
    return (
        pairs.select("id_b", "jaccard", thr)
        .where(F.col("jaccard") >= F.col("thr"))
        .groupBy("thr")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_removed"),
        )
    )


@register(
    "token_budget_mix",
    oracle=f"""
    WITH c AS (SELECT source, CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
    z AS (SELECT sum(power(n_tokens, 0.7)) AS z FROM c)
    SELECT source, n_tokens,
           round(power(n_tokens, 0.7) / z, 6) AS weight,
           round(power(n_tokens, 0.7) / z * 1000000, 2) AS target_tokens,
           round(least(1.0, power(n_tokens, 0.7) / z * 1000000 / n_tokens), 6)
               AS keep_frac,
           round(power(n_tokens, 0.7) / z * 1000000 / n_tokens, 6) AS epochs
    FROM c, z
    """,
)
def token_budget_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning against a 1M-token budget with temperature
    alpha=0.7: per-source token counts -> target shares -> keep
    fraction / epochs. One groupBy(source) + broadcast arithmetic —
    the planning half that sample_temperature_sources executes."""
    from petastorm_spark.operators.sampling_extra import token_budget_mix

    d = _t_wide(spark, sf_dir, "documents").select("source", "text")
    return token_budget_mix(d, "text", "source", budget_tokens=1_000_000, alpha=0.7)


@register(
    "click_attribution",
    oracle="""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
               FROM events),
    c AS (SELECT event_id AS click_id, user_id, t AS click_ts_us
          FROM e WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, t AS purchase_ts_us
          FROM e WHERE event_type = 'purchase')
    SELECT c.user_id, click_id, purchase_id, click_ts_us, purchase_ts_us
    FROM c JOIN p ON c.user_id = p.user_id
    WHERE purchase_ts_us > click_ts_us
      AND purchase_ts_us <= click_ts_us + 1800000000
    """,
)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution: every purchase credited to the same user's clicks
    in the preceding 30 minutes — one entity-keyed equi-join with the
    time bound as a residual (per-user event counts are log-bounded;
    AQE splits hot keys). The streaming twin runs the identical
    predicate as a watermarked stream-stream join with bounded state
    (streaming/feed.attribution_stream). See
    operators/temporal.interval_attribution."""
    from petastorm_spark.operators.temporal import interval_attribution
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_ts_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_ts_us"),
    )
    return interval_attribution(
        clicks, purchases, "user_id", "click_ts_us", "purchase_ts_us",
        window_us=30 * 60 * 1_000_000,
    )


def _kmv_oracle(k: int = 256) -> str:
    est = lambda s: (  # noqa: E731
        f"CASE WHEN len({s}) < {k} THEN len({s}) * 1.0 "
        f"ELSE {k - 1}.0 / ({s}[{k}] / 1152921504606846976.0) END"
    )
    return f"""
    WITH tok AS (SELECT source, unnest(list_distinct({_TOK})) AS tok
                 FROM documents),
    h AS (SELECT DISTINCT source,
                 (('0x'||substr(md5(tok),1,15))::BIGINT) AS h FROM tok),
    sk AS (SELECT source, (list_sort(list(DISTINCT h)))[1:{k}] AS s
           FROM h GROUP BY source),
    p AS (SELECT a.source AS group_a, b.source AS group_b,
                 a.s AS sa, b.s AS sb
          FROM sk a, sk b WHERE a.source < b.source),
    u AS (SELECT *, (list_sort(list_distinct(flatten([sa, sb]))))[1:{k}] AS uk
          FROM p)
    SELECT group_a, group_b,
           round(len(list_intersect(list_intersect(sa, sb), uk)) * 1.0
                 / least({k}, len(uk)), 4) AS est_jaccard,
           round({est('sa')}, 2) AS est_distinct_a,
           round({est('sb')}, 2) AS est_distinct_b
    FROM u
    """


@register("kmv_source_overlap", oracle=_kmv_oracle())
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between every source pair WITHOUT a second
    corpus pass: per-source KMV sketches (k=256 smallest md5 hashes of
    the token vocab) support union/intersection/Jaccard estimates from
    the sketch rows alone — the set-operation sketch next to HLL and
    count-min, and deterministic, so even the estimates are hash-gated
    by the oracle. Scale: corpus -> one distinct shuffle + exact k-min
    per source (grouped_rank, never a per-group window); the pair join
    touches only the 1-row-per-source sketch table. See
    operators/sketch.py."""
    from petastorm_spark.operators.sketch import kmv_overlap, kmv_sketch
    from petastorm_spark.operators.text import tokens

    d = _t_wide(spark, sf_dir, "documents").select(
        "source", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    sk = kmv_sketch(d, "source", "tok", k=256)
    return kmv_overlap(sk, "source", k=256)


@register(
    "cdc_chunk_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    pe AS (SELECT doc_id, unnest(t) AS tok,
                  unnest(range(1, len(t) + 1)) AS pos FROM tok),
    b AS (SELECT doc_id, tok, pos,
                 CASE WHEN (('0x'||substr(md5(tok),1,15))::BIGINT) % 16 = 0
                      THEN 1 ELSE 0 END AS f FROM pe),
    c AS (SELECT doc_id, tok, pos,
                 sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS chunk_idx
          FROM b),
    g AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 string_agg(tok, ' ' ORDER BY pos) AS chunk_text
          FROM c GROUP BY doc_id, chunk_idx)
    SELECT doc_id, chunk_idx, n_tokens, md5(chunk_text) AS digest, chunk_text
    FROM g
    """,
)
def cdc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the corpus: md5-gated token
    boundaries (expected length 16) make chunk identities stable
    under edits — the storage-dedup primitive fixed windows can't
    give. Per-chunk digests feed cross-doc chunk-level dedup. Scale:
    explode + one per-doc running sum + one groupBy(doc, chunk). See
    operators/packing.cdc_chunks."""
    from petastorm_spark.operators.packing import cdc_chunks

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(d, "text", "doc_id", boundary_mod=16)


_GBDT_TREES = [
    {"feature": "uniq", "threshold": 0.5, "left": -1.0,
     "right": {"feature": "n", "threshold": 20.0, "left": 0.2, "right": 1.0}},
    {"feature": "alpha", "threshold": 0.7, "left": -0.8, "right": 0.5},
    {"feature": "n", "threshold": 10.0, "left": -0.5,
     "right": {"feature": "uniq", "threshold": 0.8, "left": 0.3, "right": 0.6}},
]


def _gbdt_oracle() -> str:
    from petastorm_spark.operators.ml import ensemble_sql

    feats = {
        "n": "(len(t) * 1.0)",
        "uniq": "(len(list_distinct(t)) * 1.0 / len(t))",
        "alpha": "(length(regexp_replace(low, '[^a-z ]', '', 'g')) * 1.0"
                 " / length(low))",
    }
    score = ensemble_sql(_GBDT_TREES, feats)
    return f"""
    WITH tok AS (SELECT doc_id, lower(trim(text)) AS low, {_TOK} AS t
                 FROM documents)
    SELECT doc_id, round({score}, 4) AS score, {score} >= 0.5 AS label
    FROM tok
    """


@register("gbdt_quality_score", oracle=_gbdt_oracle())
def gbdt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-ensemble (GBDT-shape) quality scoring compiled to nested
    CASE expressions — the frozen-model filter burned into the plan,
    running at scan speed with zero Python; the oracle compiles the
    SAME tree dicts through the SQL backend, so both engines score
    identically branch by branch (NULL features fall right on both).
    Scale: a single projection, no shuffle. See operators/ml.py."""
    from petastorm_spark.operators.ml import tree_ensemble_score
    from petastorm_spark.operators.text import (
        alpha_ratio,
        token_count,
        uniqueness_ratio,
    )

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    feats = {
        "n": token_count("text").cast("double"),
        "uniq": uniqueness_ratio("text"),
        "alpha": alpha_ratio("text"),
    }
    return tree_ensemble_score(d, "doc_id", feats, _GBDT_TREES)


def _semantic_probe_oracle(cell_target: int = 64, cell_floor: int = 64,
                           tau: float = 0.95, n_probe: int = 2) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    n_cells = _adaptive_cells_sql(cell_target, cell_floor)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               UNION ALL
               SELECT vec_id + {_COPY_SHIFT}, embedding::DOUBLE[] FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn <= {n_probe}),
    p0 AS (SELECT DISTINCT a.vec_id AS ka, b.vec_id AS kb
           FROM ca a JOIN ca b USING (cell) WHERE a.vec_id < b.vec_id),
    p AS (SELECT ka, kb, {cos('ea.v', 'eb.v')} AS cos
          FROM p0 JOIN e ea ON ea.vec_id = ka JOIN e eb ON eb.vec_id = kb)
    SELECT kb AS removed_id, min(ka) AS witness_id,
           CAST(count(*) AS BIGINT) AS n_witnesses, round(max(cos), 4) AS max_cos
    FROM p WHERE cos >= {tau}
    GROUP BY kb
    """


@register("dedup_semantic_probe2", oracle=_semantic_probe_oracle())
def dedup_semantic_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SemDeDup: every vector assigned to its TOP-2 cells,
    so a near-dup pair split across a cell boundary (invisible to
    single-assignment semantic dedup) meets in whichever cell they
    share — the recall knob on the cluster-scoped trade; each pair is
    emitted once from its minimal shared cell (no dedup shuffle).
    Runs a 4x finer corpus-adaptive quantizer than dedup_semantic
    (~64 vectors/cell, floor 64 — the oracle computes the same
    formula): multi-probe is how you AFFORD a finer quantizer —
    per-cell quadratic work drops 16x while boundary pairs stay
    visible, and cell count growing with the corpus keeps total cost
    linear. The oracle rebuilds the identical index."""
    from petastorm_spark.operators.similarity import semantic_dedup

    n = 2 * _t(spark, sf_dir, "embeddings").count()
    emb = _t_wide(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = emb.unionByName(
        emb.select((F.col("vec_id") + _COPY_SHIFT).alias("vec_id"), "embedding")
    )
    return semantic_dedup(
        both,
        "vec_id",
        "embedding",
        n_cells=_adaptive_cells(n, 64, 64),
        threshold=0.95,
        n_probe=2,
    )


def _signals_bundle_oracle() -> str:
    scores, lang_case = _langid_case_sql()
    return f"""
    WITH tok AS (SELECT doc_id, lower(trim(text)) AS low, {_TOK} AS t
                 FROM documents),
    s AS (SELECT doc_id, low, t, {scores} FROM tok)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           round(len(list_distinct(t)) * 1.0 / len(t), 4) AS uniq_ratio,
           round(len(list_filter(t, x -> list_contains({_SW_LIST}, x)))
                 * 1.0 / len(t), 4) AS stopword_ratio,
           round(length(regexp_replace(low, '[^a-z ]', '', 'g')) * 1.0
                 / length(low), 4) AS alpha_ratio,
           {lang_case} AS detected_lang,
           md5(list_aggregate(list_sort(list_distinct(t)), 'string_agg', ' '))
               AS fingerprint,
           CAST(len(regexp_extract_all(low,
                '[a-za-z0-9._%+-]+@[a-za-z0-9.-]+\\.[a-za-z]{{2,}}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(low,
                '(\\+?\\d{{1,2}} ?)?\\d{{3}}-\\d{{3}}-\\d{{4}}')) AS BIGINT)
               AS n_phones
    FROM s
    """


@register("doc_signals_bundle", oracle=_signals_bundle_oracle())
def doc_signals_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused signals pass every modern curation stack runs FIRST
    (Dolma/RedPajama "attributes"): all map-only quality signals —
    token stats, uniqueness, stopword and alpha ratios, detected
    language, bag-of-words fingerprint, PII counts — computed in ONE
    scan as a single wide projection, stored once, consumed by every
    later filtering decision without re-reading text. Scale: zero
    shuffle; Catalyst fuses the whole bundle into one codegen stage."""
    from petastorm_spark.operators import text as T

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    low = F.lower(F.trim(F.col("text")))
    pii = dict(T.pii_counts(low))
    return d.select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        T.distinct_token_count("text").cast("bigint").alias("n_distinct"),
        F.round(T.uniqueness_ratio("text"), 4).alias("uniq_ratio"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(T.alpha_ratio("text"), 4).alias("alpha_ratio"),
        T.detect_language("text").alias("detected_lang"),
        T.fingerprint("text").alias("fingerprint"),
        pii["email"].cast("bigint").alias("n_emails"),
        pii["phone"].cast("bigint").alias("n_phones"),
    )


@register(
    "next_event_examples",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
               FROM events),
    seq AS (SELECT user_id, list(event_type ORDER BY t, event_id) AS types
            FROM e GROUP BY user_id),
    w AS (SELECT user_id,
                 unnest(list_transform(
                     range(0, greatest(len(types) - 5, 0)),
                     w -> {'window_idx': w,
                           'context': types[w+1:w+5],
                           'label': types[w+6]})) AS s
          FROM seq)
    SELECT user_id, CAST(s.window_idx AS INT) AS window_idx,
           array_to_string(s.context, '|') AS context_psv, s.label AS label
    FROM w
    """,
)
def next_event_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence dataset prep: every 5-event sliding window of
    a user's (ts, id)-ordered event-type sequence becomes a training
    example (context, next-event label) — the next-event-prediction /
    session-recommendation data layout. Scale: one user-keyed shuffle,
    log-bounded per-user sequences, map-side window fan-out (no
    positional self-join). See operators/packing.next_event_examples.
    The registered query flattens the context window to a '|'-joined
    string (``context_psv``) so the result is driver-hashable; the
    operator API keeps the real ``array<string>`` column."""
    from petastorm_spark.operators.packing import next_event_examples
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", events_ts_us(ev))
    ex = next_event_examples(
        ev, "user_id", "ts_us", "event_id", "event_type", context_len=5
    )
    return ex.select(
        "user_id",
        "window_idx",
        F.array_join("context", "|").alias("context_psv"),
        "label",
    )


@register(
    "cdc_repeated_chunks",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    pe AS (SELECT doc_id, unnest(t) AS tok,
                  unnest(range(1, len(t) + 1)) AS pos FROM tok),
    b AS (SELECT doc_id, tok, pos,
                 CASE WHEN (('0x'||substr(md5(tok),1,15))::BIGINT) % 16 = 0
                      THEN 1 ELSE 0 END AS f FROM pe),
    c AS (SELECT doc_id, tok, pos,
                 sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS chunk_idx
          FROM b),
    g AS (SELECT doc_id, chunk_idx,
                 string_agg(tok, ' ' ORDER BY pos) AS chunk_text
          FROM c GROUP BY doc_id, chunk_idx)
    SELECT md5(chunk_text) AS digest,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM g GROUP BY digest HAVING count(*) >= 2
    """,
)
def cdc_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff of content-defined chunking: chunks repeated across
    the corpus (boilerplate, quoted spans, templates) surface as one
    digest groupBy over the chunk table — occurrence and document
    counts per repeated chunk, keep-first pointer included. Scale: the
    chunk table is corpus-linear; this adds ONE digest-keyed
    partial-aggregated shuffle on top of cdc_chunk_spans."""
    from petastorm_spark.operators.packing import cdc_chunks

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = cdc_chunks(d, "text", "doc_id", boundary_mod=16)
    return (
        chunks.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_occurrences") >= 2)
    )


def _sq8_oracle(k: int = 5, factor: int = 4) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
    qz AS (SELECT vec_id,
                  CASE WHEN amax > 0
                       THEN list_transform(v, x ->
                            CAST(round(x / (amax / 127)) AS DOUBLE))
                       ELSE list_transform(v, x -> 0.0) END AS qi
           FROM a),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    s1 AS (SELECT query_id, qz.vec_id AS neighbor_id,
                  {cos('q.qv', 'qz.qi')} AS approx
           FROM q, qz WHERE qz.vec_id != query_id),
    r1 AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, neighbor_id) AS rn
        FROM s1) WHERE rn <= {k * factor}),
    x AS (SELECT query_id, neighbor_id, {cos('q.qv', 'e.v')} AS cos
          FROM r1 JOIN e ON e.vec_id = neighbor_id JOIN q USING (query_id)),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


def _pq_oracle(k: int = 5, factor: int = 4, m: int = 8, dsub: int = 8,
               k_codes: int = 16) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    # squared L2 between subspace j of vector column `vc` and a
    # codebook subvector `cv` — mirrors the Spark fold's (x-y)*(x-y)
    d2 = lambda vc, cv: (  # noqa: E731
        f"list_sum(list_transform(range(1, {dsub} + 1), "
        f"i -> ({vc}[j * {dsub} + i] - {cv}[i]) * ({vc}[j * {dsub} + i] - {cv}[i])))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    base AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
             FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k_codes})),
    cb AS (SELECT j.j, base.code,
                  list_slice(base.v, j.j * {dsub} + 1, (j.j + 1) * {dsub}) AS cv
           FROM base, (SELECT unnest(range({m})) AS j) j),
    cd AS (SELECT e.vec_id, cb.j, cb.code, {d2('e.v', 'cb.cv')} AS d2
           FROM e, cb),
    codes AS (SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, code) AS rn
        FROM cd) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qd AS (SELECT q.query_id, cb.j, cb.code, {d2('q.qv', 'cb.cv')} AS d2
           FROM q, cb),
    adc AS (SELECT qd.query_id, codes.vec_id AS neighbor_id,
                   sum(qd.d2) AS dist
            FROM codes JOIN qd ON qd.j = codes.j AND qd.code = codes.code
            WHERE codes.vec_id != qd.query_id
            GROUP BY qd.query_id, codes.vec_id),
    r1 AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {k * factor}),
    x AS (SELECT query_id, neighbor_id, {cos('q.qv', 'e.v')} AS cos
          FROM r1 JOIN e ON e.vec_id = neighbor_id JOIN q USING (query_id)),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


def _ivfpq_oracle(k: int = 5, factor: int = 4, dim: int = 64, m: int = 8,
                  n_cells: int = 16, n_probe: int = 2, k_codes: int = 16) -> str:
    dsub = dim // m
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    d2 = lambda vc, cv: (  # noqa: E731
        f"list_sum(list_transform(range(1, {dsub} + 1), "
        f"i -> ({vc}[j * {dsub} + i] - {cv}[i]) * ({vc}[j * {dsub} + i] - {cv}[i])))"
    )
    residual = (
        f"list_transform(range(1, {dim} + 1), i -> e.v[i] - cent.cv[i])"
    )
    q_residual = (
        f"list_transform(range(1, {dim} + 1), i -> qp.qv[i] - cent.cv[i])"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    res AS (SELECT ca.vec_id, ca.cell, {residual} AS r
            FROM ca JOIN e ON e.vec_id = ca.vec_id
            JOIN cent ON cent.cell = ca.cell),
    base AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r
             FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT {k_codes})),
    cb AS (SELECT j.j, base.code,
                  list_slice(base.r, j.j * {dsub} + 1, (j.j + 1) * {dsub}) AS cv
           FROM base, (SELECT unnest(range({m})) AS j) j),
    cd AS (SELECT res.vec_id, res.cell, cb.j, cb.code, {d2('res.r', 'cb.cv')} AS dd
           FROM res, cb),
    codes AS (SELECT vec_id, cell, j, code FROM (
        SELECT vec_id, cell, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dd, code) AS rn
        FROM cd) WHERE rn = 1),
    qp AS (SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c WHERE e.vec_id < 10) WHERE rn <= {n_probe}),
    qres AS (SELECT qp.query_id, qp.cell, {q_residual} AS qr
             FROM qp JOIN cent ON cent.cell = qp.cell),
    qd AS (SELECT qres.query_id, qres.cell, cb.j, cb.code,
                  {d2('qres.qr', 'cb.cv')} AS dd
           FROM qres, cb),
    adc AS (SELECT qd.query_id, codes.vec_id AS neighbor_id, sum(qd.dd) AS dist
            FROM codes JOIN qd ON qd.cell = codes.cell
                                AND qd.j = codes.j AND qd.code = codes.code
            WHERE codes.vec_id != qd.query_id
            GROUP BY qd.query_id, codes.vec_id),
    r1 AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {k * factor}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    x AS (SELECT query_id, neighbor_id, {cos('q.qv', 'e.v')} AS cos
          FROM r1 JOIN e ON e.vec_id = neighbor_id JOIN q USING (query_id)),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


@register("ann_cosine_ivfpq", oracle=_ivfpq_oracle())
def ann_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 — the full Jegou et al. production index:
    coarse cells prune WHICH vectors a query touches (2-probe), PQ
    residual codes shrink WHAT it reads per candidate (8 bytes), ADC
    tables make each candidate cost 8 lookups, and a 4x-k shortlist
    rescored against full vectors keeps the output cosine exact. The
    oracle rebuilds the identical deterministic index end to end:
    lowest-id coarse centroids, lowest-id residual codebooks, codes,
    per-(query, cell) ADC tables, shortlist, rescore."""
    from petastorm_spark.operators.similarity import cosine_topk_ivfpq

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_ivfpq(
        emb, emb.where(F.col("vec_id") < 10), k=5, rescore_factor=4,
        dim=64, n_cells=16, n_probe=2, m=8, k_codes=16,
    )


def _knn_graph_cte(k: int = 3, n_cells: int = 16, n_probe: int = 2) -> str:
    """The kNN-graph WITH-clause through ``r`` (query_id, neighbor_id,
    cos, rank) — shared by the edge-list oracles and the
    knn_graph_communities LPA unroll that consumes the edges."""
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
    asg AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    pr AS (SELECT vec_id AS query_id, v AS qv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn <= {n_probe}),
    x AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
                 {cos('pr.qv', 'asg.v')} AS cos
          FROM pr JOIN asg ON asg.cell = pr.cell
          WHERE asg.vec_id != pr.query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)"""


def _knn_graph_oracle(k: int = 3, n_cells: int = 16, n_probe: int = 2) -> str:
    return (
        _knn_graph_cte(k, n_cells, n_probe)
        + f"""
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """
    )


def _knn_communities_oracle(
    k: int = 3, n_cells: int = 16, n_probe: int = 2, rounds: int = 3
) -> str:
    """The kNN edge CTE + the synchronous-LPA unroll (the
    label_propagation_parts ladder verbatim: neighbor-label count per
    round, max count with smallest-label ties)."""
    parts = [
        _knn_graph_cte(k, n_cells, n_probe),
        f""",
    eg AS (SELECT DISTINCT least(query_id, neighbor_id) AS a,
                           greatest(query_id, neighbor_id) AS b
           FROM r WHERE rank <= {k}),
    sym AS (SELECT a, b FROM eg UNION ALL SELECT b AS a, a AS b FROM eg),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    ct{i} AS (SELECT s.a AS node, l{i - 1}.label, count(*) AS c
              FROM sym s JOIN l{i - 1} ON l{i - 1}.node = s.b
              GROUP BY s.a, l{i - 1}.label),
    l{i} AS (SELECT ct{i}.node, min(ct{i}.label) AS label
             FROM ct{i} JOIN (SELECT node, max(c) AS mc FROM ct{i}
                              GROUP BY node) m
               ON m.node = ct{i}.node AND ct{i}.c = m.mc
             GROUP BY ct{i}.node)""")
    parts.append(f"""
    SELECT node, label FROM l{rounds}""")
    return "".join(parts)


@register("knn_graph_communities", oracle=_knn_communities_oracle())
def knn_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic communities: synchronous label propagation (3 rounds,
    smallest-label ties) over the all-pairs kNN graph's edges — the
    composition that turns the similarity index into a TOPIC/HOST
    clustering signal for corpus curation (diversity quotas per
    semantic community, near-dup triage above the pair level). The
    two families compose without new machinery: knn_graph emits the
    edge list, graph.label_propagation consumes it; the oracle chains
    the identical kNN CTE into the identical LPA ladder. Scale: edge
    volume is the graph's k*N rows, each LPA round one edge-scale
    join + partial-agg argmax, localCheckpoint-cut."""
    from petastorm_spark.operators.graph import label_propagation
    from petastorm_spark.operators.similarity import knn_graph
    from petastorm_spark.session import materialize

    # eager-checkpoint the k*N-row edge list BEFORE LPA: the
    # symmetrize step references its input twice (e union reverse(e)),
    # which would re-run the candidate scoring join per reference
    edges = materialize(
        knn_graph(
            _t_wide(spark, sf_dir, "embeddings"), k=3, n_cells=16, n_probe=2
        ).select("query_id", "neighbor_id"),
        cut=True,
    )
    return label_propagation(
        edges, rounds=3, src="query_id", dst="neighbor_id"
    )


@register("knn_graph_ivf", oracle=_knn_graph_oracle())
def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs kNN graph (top-3 exact-cosine edges per vector among
    2-probe IVF candidates) — the corpus-scale primitive under
    semantic dedup and embedding-graph analytics. Unlike the query-
    batch ANN entries, BOTH sides are corpus-sized: nothing broadcasts
    but the 16-centroid quantizer; candidates come from the cell
    equi-join of each vector's probe list against the home-cell
    assignment (volume = sum of |cell| x |probers|, never N^2). The
    oracle rebuilds the identical deterministic lowest-id quantizer,
    assignment, probes, and rescored top-3."""
    from petastorm_spark.operators.similarity import knn_graph

    return knn_graph(
        _t_wide(spark, sf_dir, "embeddings"), k=3, n_cells=16, n_probe=2
    )


def _cached_index(sf_dir: str, stem: str, params_file: str, build) -> str:
    """Build an index over ``sf_dir``'s embeddings once and return its
    URL: ``<tmp>/<stem><sf_dir token>_<fingerprint>``. The fingerprint
    hashes the source parquet's file names, mtimes and sizes, so a
    dataset regenerated at the same path gets a new index rather than
    stale neighbors. ``build(url)`` writes into a process-private dir
    that is renamed into place; the params file, written last, marks
    the index complete, and a concurrent process that wins the rename
    is kept."""
    import hashlib
    import os
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    h = hashlib.md5()
    if os.path.isdir(src):
        for name in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, name))
            h.update(f"{name}:{st.st_mtime_ns}:{st.st_size};".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{src}:{st.st_mtime_ns}:{st.st_size}".encode())
    token = sf_dir.rstrip("/").replace("/", "_")
    url = os.path.join(tempfile.gettempdir(), f"{stem}{token}_{h.hexdigest()[:12]}")
    marker = os.path.join(url, params_file)
    if not os.path.exists(marker):
        tmp = f"{url}.build{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, url)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(marker):
                raise
    return url


@register("knn_graph_incremental", oracle=_knn_graph_oracle())
def knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED incremental kNN graph (r13): build the index on
    ~90% of the corpus (everything except vec_id % 10 == 7, keeping
    the 16 lowest ids so the lowest-id quantizer is identical to the
    full build's), APPEND the held-out batch — knn_graph_append probes
    the stored cells, rescores only the affected home-cell
    neighborhoods, and rewrites only those edge partitions — then read
    the stored graph. The oracle is the FULL-corpus graph SQL: the
    incremental path must land on exactly the edges a from-scratch
    rebuild produces (same quantizer, same candidate rule, fold-exact
    cosines), which is the strongest possible check of the merge
    logic. Index built once per dataset (:func:`_cached_index`), so
    repeat runs price the READ — the production steady state."""
    from petastorm_spark.operators.similarity import (
        knn_graph_append,
        knn_graph_read,
        knn_graph_write,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    batch_cond = (F.col("vec_id") % 10 == 7) & (F.col("vec_id") >= 16)

    def build(url):
        knn_graph_write(url, emb.where(~batch_cond), k=3, n_cells=16, n_probe=2)
        knn_graph_append(spark, url, emb.where(batch_cond))

    url = _cached_index(sf_dir, "ps_knn_graph_idx", "knn_graph.json", build)
    _, edges = knn_graph_read(spark, url)
    return edges


def _recall_ivfpq_oracle(k: int = 5, factor: int = 4) -> str:
    body = _ivfpq_oracle(k, factor).strip()
    with_part, _ = body.rsplit("SELECT query_id", 1)
    cos = (
        "list_dot_product(qe.qv, ce.v) / (sqrt(list_dot_product(qe.qv, qe.qv))"
        " * sqrt(list_dot_product(ce.v, ce.v)))"
    )
    return f"""
    {with_part.rstrip()},
    approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank <= {k})
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           count(a.neighbor_id) / {float(k)} AS recall
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register("ann_recall_ivfpq", oracle=_recall_ivfpq_oracle())
def ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report for the IVF-PQ index: per-query recall@5 of
    the 2-probe, ADC-shortlisted, rescored index against exact brute
    force — where BOTH loss sources (cell misses and code
    approximation) land in one number. Completes recall tooling across
    all four index families (LSH, IVF, PQ, IVF-PQ)."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_ivfpq,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_ivfpq(
        emb, q, k=5, rescore_factor=4, dim=64, n_cells=16, n_probe=2,
        m=8, k_codes=16,
    )
    return ann_recall_report(exact, approx, k=5)


@register("ann_cosine_pq", oracle=_pq_oracle())
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-5 (PQ/ADC, Jegou et al. 2011): the
    corpus compresses to m=8 one-byte codes per vector (32x smaller
    than float32-64d), each query precomputes its 8x16 subvector
    distance table once, the approximate pass is 8 table lookups per
    candidate, and a 4x-k shortlist rescored against full vectors
    makes the output cosine exact. The memory-bound sibling of
    ann_cosine_sq8 — at 100 TB the hot scan reads the code column
    only. The oracle rebuilds the identical deterministic codebooks
    (lowest-id vectors' subvectors), codes, ADC shortlist, rescore."""
    from petastorm_spark.operators.similarity import cosine_topk_pq

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_pq(
        emb, emb.where(F.col("vec_id") < 10), k=5, rescore_factor=4
    )


def _recall_pq_oracle(k: int = 5, factor: int = 4) -> str:
    # the PQ approx pipeline (codebooks -> codes -> ADC shortlist ->
    # exact-cosine rescore) from _pq_oracle, compared against exact
    # brute force per query
    pq_body = _pq_oracle(k, factor).strip()
    assert pq_body.startswith("WITH ") and "SELECT query_id" in pq_body
    with_part, final = pq_body.rsplit("SELECT query_id", 1)
    cos = (
        "list_dot_product(qe.qv, ce.v) / (sqrt(list_dot_product(qe.qv, qe.qv))"
        " * sqrt(list_dot_product(ce.v, ce.v)))"
    )
    return f"""
    {with_part.rstrip()},
    approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank <= {k})
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           count(a.neighbor_id) / {float(k)} AS recall
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register("ann_recall_pq", oracle=_recall_pq_oracle())
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report for the PQ index: per-query recall@5 of
    ADC-shortlisted (4x-k, rescored) PQ against exact brute force —
    the tuning number for m / k_codes / rescore_factor, completing
    recall tooling across all three index families (LSH, IVF, PQ).
    Scale: both sides are top-k RESULTS; the comparison join never
    touches vectors."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_pq,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_pq(emb, q, k=5, rescore_factor=4)
    return ann_recall_report(exact, approx, k=5)


@register("ann_cosine_sq8", oracle=_sq8_oracle())
def ann_cosine_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN top-5: the int8 corpus is scored first
    (the per-vector scale cancels out of cosine, so the approximate
    score is cosine against the raw int arrays), a 4x-k shortlist is
    rescored against full-precision vectors — the SQ8 recipe that
    reads quarter-width data on the hot path at 100 TB. The oracle
    rebuilds the identical quantizer, shortlist, and rescore."""
    from petastorm_spark.operators.similarity import cosine_topk_sq8

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_sq8(
        emb, emb.where(F.col("vec_id") < 10), k=5, rescore_factor=4
    )


@register(
    "corpus_datacard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, lang, text, {_TOK} AS t
                 FROM documents),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(len(t)) AS BIGINT) AS n_tokens,
                    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                    round(avg(len(t)), 4) AS avg_doc_tokens,
                    round(avg(length(text)), 4) AS avg_doc_chars
             FROM tok),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
              FROM (SELECT unnest(t) AS tok FROM tok)),
    dup AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_dup_docs
            FROM (SELECT count(*) AS c FROM documents
                  GROUP BY md5(text) HAVING count(*) > 1)),
    pii AS (SELECT CAST(sum(CASE WHEN regexp_matches(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs
            FROM documents)
    SELECT * FROM base, vocab, dup, pii
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus data card every dataset release publishes:
    document/token/vocabulary counts, source and language coverage,
    mean lengths, exact-duplicate document count, PII-bearing document
    count — computed in one pass over the corpus plus two aggregate
    subplans (vocab distinct, digest dup groups). Scale: every piece
    is a partial-aggregated corpus scan; nothing row-sized leaves the
    executors."""
    from petastorm_spark.operators.text import EMAIL_PATTERN, token_count, tokens

    d = _t_wide(spark, sf_dir, "documents")
    base = d.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg(token_count("text")), 4).alias("avg_doc_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_doc_chars"),
    )
    vocab = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .agg(F.countDistinct("tok").alias("n_vocab"))
    )
    dup = (
        d.groupBy(F.md5("text"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_dup_docs"))
    )
    pii = d.agg(
        F.sum(
            F.when(F.col("text").rlike(EMAIL_PATTERN), 1).otherwise(0)
        ).cast("bigint").alias("n_email_docs")
    )
    return base.crossJoin(vocab).crossJoin(dup).crossJoin(pii)


@register(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    vocab AS (SELECT tok FROM freq
              ORDER BY c DESC, tok LIMIT 1000),
    j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
          FROM tok t LEFT JOIN vocab v ON v.tok = t.tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(sum(oov) * 1.0 / count(*), 4) AS oov_rate
    FROM j GROUP BY doc_id
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: fix the vocabulary at the corpus's
    top-1000 tokens (count DESC, lexicographic tie-break) and measure
    each document's out-of-vocabulary rate — what you consult before
    committing a vocab size. Scale: one corpus count shuffle, the
    top-V cut as a TakeOrdered (never a global sort), the vocabulary
    BROADCAST back onto the token stream, one per-doc aggregate."""
    from petastorm_spark.operators.text import tokens

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("_in"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


@register(
    "fuzzy_match_ids",
    oracle="""
    WITH m AS (SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS ident
               FROM customer),
    l AS (SELECT c_custkey AS lk, ident AS lt FROM m),
    r AS (SELECT c_custkey + 1000000 AS rk,
                 CASE WHEN c_custkey % 3 = 0
                      THEN substr(ident, 1, 31) || 'x'
                      ELSE ident END AS rt
          FROM m),
    j AS (SELECT lk, rk, levenshtein(lt, rt) AS edit_dist
          FROM l JOIN r ON substr(lt, 1, 8) = substr(rt, 1, 8))
    SELECT lk AS c_custkey, rk AS dirty_key, edit_dist
    FROM j WHERE edit_dist <= 2
    """,
)
def fuzzy_match_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table entity resolution (record linkage): a dirty feed —
    every third record's 32-char identifier corrupted in its last
    character — is matched back to the master table. Candidates come
    from a blocking equi-join on the identifier's 8-char prefix (the
    standard blocking recipe), verified by Levenshtein <= 2; the
    quadratic distance only ever runs within tiny blocks. Identifiers
    are md5-derived so both engines build the identical fixture. See
    operators/dedup.blocked_fuzzy_join."""
    from petastorm_spark.operators.dedup import blocked_fuzzy_join

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.md5(F.col("c_custkey").cast("string")).alias("ident")
    )
    dirty = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("dirty_key"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.substring("ident", 1, 31), F.lit("x")),
        )
        .otherwise(F.col("ident"))
        .alias("ident2"),
    )
    return blocked_fuzzy_join(
        cust, dirty, "c_custkey", "dirty_key", "ident", "ident2",
        max_dist=2, block_prefix=8,
    )


def _padding_oracle(batch: int = 32) -> str:
    def strat(name: str, order: str) -> str:
        return f"""
    {name}_r AS (SELECT n, row_number() OVER (ORDER BY {order}) AS rn FROM pd),
    {name}_b AS (SELECT (rn - 1) // {batch} AS b, max(n) AS mx,
                        sum(n) AS s, count(*) AS c
                 FROM {name}_r GROUP BY b),
    {name}_a AS (SELECT '{name}' AS strategy,
                        CAST(count(*) AS BIGINT) AS n_batches,
                        CAST(sum(s) AS BIGINT) AS real_tokens,
                        CAST(sum(mx * c) AS BIGINT) AS padded_tokens
                 FROM {name}_b)"""

    return f"""
    WITH pd AS (SELECT doc_id, len({_TOK}) AS n, {_FRAC_DOC} AS frac
                FROM documents),{strat("arrival", "frac, doc_id")},{strat("length_sorted", "n, doc_id")}
    SELECT strategy, n_batches, real_tokens, padded_tokens,
           round(1 - real_tokens * 1.0 / padded_tokens, 4) AS waste_frac
    FROM (SELECT * FROM arrival_a UNION ALL SELECT * FROM length_sorted_a)
    """


@register(
    "shard_plan_docs",
    oracle=f"""
    WITH d AS (SELECT doc_id, len({_TOK}) AS w FROM documents),
    c AS (SELECT doc_id, w,
                 coalesce(sum(w) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum
          FROM d)
    SELECT CAST(cum // 20000 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS tokens
    FROM c GROUP BY shard_id
    """,
)
def shard_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side shard planning: documents greedily packed into
    contiguous ~20K-token output shards in doc_id order (exclusive
    prefix-sum div budget), reported per shard — the planner in front
    of a balanced training-shard write. Scale: global prefix sums via
    the two-phase range-exchange pattern (no single-task window); the
    plan runs on a narrow (id, weight) projection, the text never
    moves. See operators/layout.shard_plan."""
    from petastorm_spark.operators.layout import shard_plan
    from petastorm_spark.operators.text import token_count

    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("w")
    )
    planned = shard_plan(d, "w", ["doc_id"], budget=20_000)
    return planned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("bigint").alias("tokens"),
    )


@register("padding_waste_report", oracle=_padding_oracle())
def padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY length-bucketed batching exists, measured: tokens of padding
    per strategy when fixed-size-32 batches pad to their longest
    member — key-stable arrival order vs length-sorted order. One row
    per strategy (batches, real tokens, padded tokens, waste
    fraction). Scale: each strategy is a distributed exact global rank
    (range exchange + broadcast offsets, never a one-task window) and
    a per-batch aggregate."""
    from petastorm_spark.operators.dedup import hash60
    from petastorm_spark.operators.rank import global_rank
    from petastorm_spark.operators.text import token_count
    from petastorm_spark.predicates import HASH_SPACE

    d = _t_wide(spark, sf_dir, "documents").select(
        "doc_id",
        token_count("text").alias("n"),
        (hash60(F.col("doc_id").cast("string"), seed=0) / F.lit(HASH_SPACE))
        .cast("double")
        .alias("frac"),
    )
    out = []
    for name, order in (
        ("arrival", ["frac", "doc_id"]),
        ("length_sorted", ["n", "doc_id"]),
    ):
        ranked = global_rank(d, order, rank_col="_rn")
        agg = (
            ranked.withColumn("_b", F.expr("(_rn - 1) div 32"))
            .groupBy("_b")
            .agg(
                F.max("n").alias("_mx"),
                F.sum("n").alias("_s"),
                F.count(F.lit(1)).alias("_c"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_batches"),
                F.sum("_s").cast("bigint").alias("real_tokens"),
                F.sum(F.col("_mx") * F.col("_c")).cast("bigint").alias(
                    "padded_tokens"
                ),
            )
            .select(F.lit(name).alias("strategy"), "*")
        )
        out.append(agg)
    res = out[0].unionByName(out[1])
    return res.select(
        "strategy",
        "n_batches",
        "real_tokens",
        "padded_tokens",
        F.round(
            F.lit(1) - F.col("real_tokens") / F.col("padded_tokens"), 4
        ).alias("waste_frac"),
    )

_TAIL_DOCS_CTE = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_COPY_SHIFT} AS doc_id,
                      text || '{_TAIL}' AS text FROM documents)
"""


def _keep_best_oracle(threshold: float = 0.8) -> str:
    inter = "len(list_intersect(sa.s, sb.s))"
    m = f"{inter} * 1.0 / (len(sa.s) + len(sb.s) - {inter})"
    return (
        _TAIL_DOCS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
        + _lsh_cand_ctes()
        + f""",
    nd AS (SELECT id_a, id_b FROM cand
           JOIN sets sa ON sa.doc_id = id_a
           JOIN sets sb ON sb.doc_id = id_b
           WHERE {m} >= {threshold}),
    nodes AS (SELECT id_a AS node FROM nd UNION SELECT id_b FROM nd),
    edges AS (SELECT id_a AS a, id_b AS b FROM nd
              UNION SELECT id_b, id_a FROM nd),
    reach(a, b) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    sc AS (SELECT lab.doc_id, cluster_id, len({_TOK}) AS n
           FROM lab JOIN d ON d.doc_id = lab.doc_id),
    win AS (SELECT cluster_id, doc_id AS winner FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n DESC, doc_id) AS rn
                FROM sc) WHERE rn = 1),
    losers AS (SELECT sc.doc_id FROM sc JOIN win USING (cluster_id)
               WHERE sc.doc_id != winner)
    SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
    FROM d WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """
    )


@register("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship POLICY dedup: near-dup clusters canonicalized by
    keep-LONGEST (max token count, ties to the lower id) instead of
    keep-lowest-id — on this fixture every copy carries an appended
    tail, so the policy must keep the HIGHER id of each pair, the
    opposite of canonicalize()'s default. Scale: policy argmax runs on
    the cluster-sized id table; the corpus sees one left-anti join.
    See operators/dedup.canonicalize_by."""
    from petastorm_spark.operators.dedup import (
        canonicalize_by,
        connected_components,
        near_dup_pairs,
    )
    from petastorm_spark.operators.text import token_count

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = d.unionByName(
        d.select(
            (F.col("doc_id") + _COPY_SHIFT).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
        )
    )
    pairs = near_dup_pairs(noisy, "text", "doc_id", threshold=0.8)
    clusters = connected_components(pairs)
    survivors = canonicalize_by(
        noisy, "doc_id", clusters, token_count("text"), keep="max"
    )
    return survivors.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Round 11: stupid-backoff bigram LM scoring; Matryoshka prefix ANN
# ---------------------------------------------------------------------------

_LM_MODEL_SRC = "('src0', 'src1', 'src2', 'src3')"


def _lm_backoff_oracle(alpha: float = 0.4, micro: int = 10**6) -> str:
    return f"""
    WITH tok AS (SELECT doc_id, source, {_TOK} AS t FROM documents),
    mt AS (SELECT t FROM tok WHERE source IN {_LM_MODEL_SRC}),
    mp AS (SELECT unnest(t[1:length(t)-1]) AS w1, unnest(t[2:length(t)]) AS w2
           FROM mt WHERE length(t) >= 2),
    big AS (SELECT w1, w2, count(*) AS c2 FROM mp GROUP BY w1, w2),
    mu AS (SELECT unnest(t) AS w FROM mt),
    uni AS (SELECT w, count(*) AS c1 FROM mu GROUP BY w),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM mu),
    dp AS (SELECT doc_id, unnest(t[1:length(t)-1]) AS w1,
                  unnest(t[2:length(t)]) AS w2
           FROM tok WHERE length(t) >= 2),
    dpc AS (SELECT doc_id, w1, w2, count(*) AS cdoc
            FROM dp GROUP BY doc_id, w1, w2),
    sc AS (SELECT doc_id, cdoc, b.c2,
                  u1.c1 AS c1w1, u2.c1 AS c1w2, nt.n
           FROM dpc
           LEFT JOIN big b USING (w1, w2)
           LEFT JOIN uni u1 ON u1.w = dpc.w1
           LEFT JOIN uni u2 ON u2.w = dpc.w2, nt),
    t2 AS (SELECT doc_id, cdoc, (c2 IS NOT NULL) AS seen,
                  CASE WHEN c2 IS NOT NULL THEN c2 * 1.0 / c1w1
                       ELSE CAST({alpha} AS DOUBLE)
                            * (greatest(coalesce(c1w2, 0), 1) * 1.0 / n)
                  END AS s
           FROM sc)
    SELECT doc_id,
           CAST(sum(cdoc) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN seen THEN cdoc ELSE 0 END) AS BIGINT)
               AS seen_bigrams,
           CAST(sum(CAST(floor(ln(s) * {micro}) AS BIGINT) * cdoc) AS BIGINT)
               AS score_micro,
           round(sum(CAST(floor(ln(s) * {micro}) AS BIGINT) * cdoc)
                 / {float(micro)} / sum(cdoc), 4) AS avg_logprob
    FROM t2 GROUP BY doc_id
    """


@register("lm_score_backoff", oracle=_lm_backoff_oracle())
def lm_score_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM quality scoring with stupid backoff
    (Brants et al. 2007 — the scoring rule built FOR distributed
    count LMs): the model is counted over 4 of the 20 sources, every
    document scored against it — held-out sources hit the backoff and
    score lower, the CCNet-style LM quality signal one rung above
    perplexity_buckets' unigram proxy. Per-term floor-scaled integer
    micro-units make the per-doc sums addition-order-independent
    (engine-exact). Scale: see operators/text.bigram_lm_score — two
    vocabulary-sized count shuffles, token-keyed scoring joins, one
    doc-keyed groupBy; corpus total on a 1-row broadcast."""
    from petastorm_spark.operators.text import bigram_lm_score

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text", "source")
    model = d.where(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    return bigram_lm_score(d, "text", "doc_id", model_df=model)


def _prefix_oracle(k: int = 5, factor: int = 4, p: int = 16) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pz AS (SELECT vec_id, list_slice(v, 1, {p}) AS pv FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, list_slice(v, 1, {p}) AS qp
          FROM e WHERE vec_id < 10),
    s1 AS (SELECT query_id, pz.vec_id AS neighbor_id,
                  {cos('q.qp', 'pz.pv')} AS approx
           FROM q, pz WHERE pz.vec_id != query_id),
    r1 AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, neighbor_id) AS rn
        FROM s1) WHERE rn <= {k * factor}),
    x AS (SELECT query_id, neighbor_id, {cos('q.qv', 'e.v')} AS cos
          FROM r1 JOIN e ON e.vec_id = neighbor_id JOIN q USING (query_id)),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


@register("ann_cosine_prefix", oracle=_prefix_oracle())
def ann_cosine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / prefix-dimension ANN top-5 (Kusupati et al. 2022):
    the approximate pass scores only the first 16 of 64 dims (a 4x
    I/O+FLOP cut with zero index state), the 4x-k shortlist is
    rescored at full dimension — output cosine exact. The oracle
    rebuilds the identical prefix shortlist and rescore."""
    from petastorm_spark.operators.similarity import cosine_topk_prefix

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_prefix(
        emb, emb.where(F.col("vec_id") < 10),
        k=5, rescore_factor=4, prefix_dim=16,
    )


@register("ann_cosine_prefix_indexed", oracle=_prefix_oracle())
def ann_cosine_prefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_cosine_prefix` against the PERSISTED prefix index:
    the approximate pass scans the (id, prefix) parquet written by
    prefix_index_write — 16 of 64 dims of PHYSICAL bytes off disk,
    not an in-plan slice of the full vector column (ReadSchema pinned
    in tests/test_plans.py) — and the 4x-k shortlist joins the full
    vectors for the exact-cosine rescore. Same output, same oracle as
    the index-free variant; the index is built once per DATASET
    (:func:`_cached_index`) so repeat runs price the SEARCH, the
    production steady state."""
    from petastorm_spark.operators.similarity import (
        prefix_index_read,
        prefix_index_write,
        prefix_query,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    url = _cached_index(
        sf_dir,
        "ps_prefix_idx",
        "prefix.json",
        lambda url: prefix_index_write(url, emb, prefix_dim=16),
    )
    pdim, pdf = prefix_index_read(spark, url)
    return prefix_query(
        pdf, emb, emb.where(F.col("vec_id") < 10),
        k=5, rescore_factor=4, prefix_dim=pdim,
    )


def _recall_prefix_oracle(k: int = 5, factor: int = 4, p: int = 16) -> str:
    # same surgery as _recall_pq_oracle: the approx pipeline compared
    # against exact brute force per query
    body = _prefix_oracle(k, factor, p).strip()
    assert body.startswith("WITH ") and "SELECT query_id" in body
    with_part, _ = body.rsplit("SELECT query_id", 1)
    cos = (
        "list_dot_product(qe.qv, ce.v) / (sqrt(list_dot_product(qe.qv, qe.qv))"
        " * sqrt(list_dot_product(ce.v, ce.v)))"
    )
    return f"""
    {with_part.rstrip()},
    approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank <= {k})
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           count(a.neighbor_id) / {float(k)} AS recall
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


def _rbo_prefix_oracle(
    k: int = 5, factor: int = 4, pdim: int = 16, p: float = 0.9
) -> str:
    # same surgery as _recall_prefix_oracle, but keeping BOTH sides'
    # ranks so the intersection activation depth greatest(re, ra)
    # drives the running x_d count
    body = _prefix_oracle(k, factor, pdim).strip()
    assert body.startswith("WITH ") and "SELECT query_id" in body
    with_part, _ = body.rsplit("SELECT query_id", 1)
    cos = (
        "list_dot_product(qe.qv, ce.v) / (sqrt(list_dot_product(qe.qv, qe.qv))"
        " * sqrt(list_dot_product(ce.v, ce.v)))"
    )
    return f"""
    {with_part.rstrip()},
    ap AS (SELECT query_id, neighbor_id, rank AS ra
           FROM r WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    ex AS (SELECT query_id, neighbor_id, rank AS re FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank <= {k}),
    j AS (SELECT ex.query_id, greatest(ex.re, ap.ra) AS d0
          FROM ex JOIN ap ON ap.query_id = ex.query_id
                         AND ap.neighbor_id = ex.neighbor_id),
    grid AS (SELECT q.query_id, CAST(dd.d AS INT) AS d
             FROM (SELECT DISTINCT query_id FROM ex) q,
                  (SELECT unnest(range(1, {k + 1})) AS d) dd),
    xd AS (SELECT g.query_id, g.d, count(j.d0) AS x_d
           FROM grid g LEFT JOIN j ON j.query_id = g.query_id
                                  AND j.d0 <= g.d
           GROUP BY g.query_id, g.d)
    SELECT query_id, d, CAST(x_d AS BIGINT) AS x_d,
           round((1.0 - {p}) * power({p}, CAST(d AS DOUBLE) - 1.0)
                 * CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE), 6) AS rbo_term
    FROM xd
    """


def _mrr_prefix_oracle(k: int = 5, factor: int = 4, pdim: int = 16) -> str:
    # same surgery as _rbo_prefix_oracle: approx list from the prefix
    # pipeline's r, exact top-1 from brute force, left join for the
    # reciprocal rank
    body = _prefix_oracle(k, factor, pdim).strip()
    assert body.startswith("WITH ") and "SELECT query_id" in body
    with_part, _ = body.rsplit("SELECT query_id", 1)
    cos = (
        "list_dot_product(qe.qv, ce.v) / (sqrt(list_dot_product(qe.qv, qe.qv))"
        " * sqrt(list_dot_product(ce.v, ce.v)))"
    )
    return f"""
    {with_part.rstrip()},
    ap AS (SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}),
    qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    se AS (SELECT query_id, ce.vec_id AS neighbor_id, {cos} AS cos
           FROM qe, e ce WHERE ce.vec_id != query_id),
    rel AS (SELECT query_id, neighbor_id AS rel_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM se) WHERE rank = 1)
    SELECT rel.query_id, rel.rel_id,
           CAST(ap.rank AS INT) AS rank_in_approx,
           coalesce(round(1.0 / CAST(ap.rank AS DOUBLE), 6), 0.0) AS rr
    FROM rel LEFT JOIN ap ON ap.query_id = rel.query_id
                         AND ap.neighbor_id = rel.rel_id
    """


@register("ann_mrr_prefix", oracle=_mrr_prefix_oracle())
def ann_mrr_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the TRUE nearest neighbor in the
    prefix-dimension ANN list — the third retrieval-eval leg next to
    ann_recall_prefix (hits anywhere) and ann_rbo_prefix (depth
    profile): avg(rr) is the MRR a retrieval deployment quotes."""
    from petastorm_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_prefix,
        rank_mrr_report,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_prefix(emb, q, k=5, rescore_factor=4, prefix_dim=16)
    return rank_mrr_report(exact, approx, k=5)


@register("ann_rbo_prefix", oracle=_rbo_prefix_oracle())
def ann_rbo_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap terms (p=0.9, k=5) of the prefix-dimension
    ANN funnel vs exact brute force — the top-weighted companion to
    ann_recall_prefix: recall@5 counts hits anywhere in the top 5,
    RBO's p^(d-1) depth discount rewards getting the FIRST hits
    right, the metric that matches retrieval-augmented usage (the top
    result is what gets stuffed into the context window). Sum a
    query's rbo_term rows = its RBO@5."""
    from petastorm_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_prefix,
        rank_rbo_report,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_prefix(emb, q, k=5, rescore_factor=4, prefix_dim=16)
    return rank_rbo_report(exact, approx, k=5, p=0.9)


@register("ann_recall_prefix", oracle=_recall_prefix_oracle())
def ann_recall_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the prefix-dimension funnel vs exact brute force —
    the number that tells you whether an embedding is
    matryoshka-trained enough to truncate (on non-matryoshka test
    vectors this is the honest degradation readout)."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_prefix,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5)
    approx = cosine_topk_prefix(emb, q, k=5, rescore_factor=4, prefix_dim=16)
    return ann_recall_report(exact, approx, k=5)


@register(
    "embedding_covariance",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, i,
                 CAST(round(v[i] * 1000000, 0) AS HUGEINT) AS xi
          FROM e, unnest(range(1, 9)) AS u(i)),
    p AS (SELECT a.i AS i, b.i AS j, a.xi AS xa, b.xi AS xb
          FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i),
    g AS (SELECT i, j, count(*) AS n,
                 sum(xa) AS sa, sum(xb) AS sb, sum(xa * xb) AS sab
          FROM p GROUP BY i, j)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / 1000000000000.0, 6) AS cov
    FROM g
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the leading 8 embedding
    dims — the whitening/PCA/drift sufficient statistic, engine-exact
    via micro-unit DECIMAL(38,0) sums (the corr_lineitem_matrix
    recipe applied to array columns). 36 cells; the combination runs
    in double over identical integers on both engines. See
    operators/similarity.embedding_covariance for the full-width
    mapInPandas production shape this exact twin validates."""
    from petastorm_spark.operators.similarity import embedding_covariance as ec

    return ec(_t_wide(spark, sf_dir, "embeddings"), dims=8)


@register(
    "embedding_dim_robust_stats",
    oracle="""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT i, CAST(round(v[i] * 1000000, 0) AS BIGINT) AS x
          FROM e, unnest(range(1, 9)) AS u(i)),
    m AS (SELECT i, median(x) AS med, count(*) AS n FROM x GROUP BY i),
    d AS (SELECT x.i, abs(2 * x.x - CAST(2 * m.med AS BIGINT)) AS dd
          FROM x JOIN m ON m.i = x.i),
    m2 AS (SELECT i, median(dd) AS madd FROM d GROUP BY i)
    SELECT CAST(m.i AS INT) AS i, CAST(m.n AS BIGINT) AS n,
           round(m.med / 1000000.0, 6) AS med,
           round(m2.madd / 2 / 1000000.0, 6) AS mad
    FROM m JOIN m2 ON m2.i = m.i
    """,
)
def embedding_dim_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension MEDIAN + MAD of the leading 8 embedding dims —
    the outlier-robust batch-health screen next to the covariance
    moments, engine-exact: micro-int quantization, medians taken as
    the sum of the two middle integers (dyadic halves), the MAD pass
    on |2x - 2*median| integers, division only at the end. The oracle
    is DuckDB's exact median over the same integers. See
    operators/similarity.embedding_dim_robust_stats for the
    count-compressed weighted-median scale shape."""
    from petastorm_spark.operators.similarity import (
        embedding_dim_robust_stats as rs,
    )

    return rs(_t_wide(spark, sf_dir, "embeddings"), dims=8)


def _cov_cells_sql(pred: str) -> str:
    return f"""
      SELECT i, j, count(*) AS n,
             round((CAST(count(*) AS DOUBLE) * CAST(sum(xa * xb) AS DOUBLE)
                    - CAST(sum(xa) AS DOUBLE) * CAST(sum(xb) AS DOUBLE))
                   / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))
                   / 1000000000000.0, 6) AS cov
      FROM (SELECT a.i AS i, b.i AS j, a.xi AS xa, b.xi AS xb
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
            WHERE {pred}) p
      GROUP BY i, j
    """


@register(
    "embedding_cov_drift",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, i,
                 CAST(round(v[i] * 1000000, 0) AS HUGEINT) AS xi
          FROM e, unnest(range(1, 9)) AS u(i)),
    ga AS ({_cov_cells_sql('a.vec_id % 2 = 0')}),
    gb AS ({_cov_cells_sql('a.vec_id % 2 = 1')})
    SELECT CAST(ga.i AS INT) AS i, CAST(ga.j AS INT) AS j,
           CAST(ga.n AS BIGINT) AS n_a, CAST(gb.n AS BIGINT) AS n_b,
           ga.cov AS cov_a, gb.cov AS cov_b,
           round(ga.cov - gb.cov, 6) AS delta
    FROM ga JOIN gb ON gb.i = ga.i AND gb.j = ga.j
    """,
)
def embedding_cov_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment drift monitor — the covariance companion to
    embedding_label_drift's centroid (first-moment) drift: the exact
    covariance cells of two corpus splits (even/odd vec_id standing in
    for old/new snapshots) joined per (i, j) with their delta. A
    distribution shift that leaves means untouched (variance collapse,
    rotated correlations — classic embedding-model regressions) shows
    up here first. Engine-exact: each side is the join-free
    DECIMAL(38,0) sufficient-statistics pass; the delta subtracts two
    identically-rounded doubles. Scale: two linear passes + a 36-row
    join."""
    from petastorm_spark.operators.similarity import embedding_covariance as ec

    emb = _t_wide(spark, sf_dir, "embeddings")
    a = ec(emb.where(F.col("vec_id") % 2 == 0), dims=8)
    b = ec(emb.where(F.col("vec_id") % 2 == 1), dims=8)
    a = a.select("i", "j", F.col("n").alias("n_a"), F.col("cov").alias("cov_a"))
    b = b.select("i", "j", F.col("n").alias("n_b"), F.col("cov").alias("cov_b"))
    return a.join(b, ["i", "j"]).select(
        "i", "j", "n_a", "n_b", "cov_a", "cov_b",
        F.round(F.col("cov_a") - F.col("cov_b"), 6).alias("delta"),
    )


def _kmeans_cte(k: int = 8, dims: int = 8, rounds: int = 2,
                micro: int = 10**6) -> str:
    """The unrolled Lloyd's-k-means CTE ladder shared by the
    kmeans_embeddings / cluster_balanced_sample oracles — the exact
    SQL twin of operators.similarity.kmeans_lloyd's driver loop:
    micro-quantized integer coordinates, lowest-id seeding, integer
    squared-distance argmin with lowest-cell tie-break, and the
    round-half-up((2S+N)/(2N)) centroid update, one cent{r} CTE per
    fixed round. Ends with af (vec_id, cell, dist) = the final
    assignment and cent{rounds} = the final integer centroids."""
    parts = [f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, i, CAST(round(v[i] * {micro}, 0) AS BIGINT) AS x
          FROM e, unnest(range(1, {dims + 1})) AS u(i)),
    seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
             FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k})),
    cent0 AS (SELECT s.cell, x.i, x.x AS c FROM seed s JOIN x USING (vec_id))"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    d{r} AS (SELECT x.vec_id, c.cell,
                    sum((x.x - c.c) * (x.x - c.c)) AS dist
             FROM x JOIN cent{r - 1} c ON x.i = c.i
             GROUP BY x.vec_id, c.cell),
    a{r} AS (SELECT vec_id, cell FROM (
               SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) AS rn
               FROM d{r}) WHERE rn = 1),
    cent{r} AS (SELECT a.cell, x.i,
                CAST(floor((2 * sum(x.x) + count(*))
                           / (2.0 * count(*))) AS BIGINT) AS c
                FROM a{r} a JOIN x USING (vec_id)
                GROUP BY a.cell, x.i)""")
    parts.append(f""",
    df AS (SELECT x.vec_id, c.cell,
                  sum((x.x - c.c) * (x.x - c.c)) AS dist
           FROM x JOIN cent{rounds} c ON x.i = c.i
           GROUP BY x.vec_id, c.cell),
    af AS (SELECT vec_id, cell, dist FROM (
             SELECT vec_id, cell, dist,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cell) AS rn
             FROM df) WHERE rn = 1)""")
    return "".join(parts)


@register(
    "kmeans_embeddings",
    oracle=_kmeans_cte()
    + """,
    csv AS (SELECT cell, string_agg(c::VARCHAR, ',' ORDER BY i) AS cent_csv
            FROM cent2 GROUP BY cell)
    SELECT CAST(af.cell AS INT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(af.dist) AS DOUBLE) / 1000000000000.0, 6)
               AS inertia,
           min(csv.cent_csv) AS cent_csv
    FROM af JOIN csv USING (cell)
    GROUP BY af.cell
    """,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact distributed Lloyd's k-means (k=8, 2 fixed rounds)
    over the leading 8 embedding coordinates — the clustering
    primitive under cluster-balanced mixing and semantic curation.
    The report row per cell carries the member count, the exact
    within-cluster sum of squares, AND the integer centroid
    coordinates, so the oracle pins the full converged state, not
    just cluster sizes. Scale: per round one corpus scan (assignment
    is a pure per-row fold over plan-literal centroids — no join) +
    one <= k*dims-row partially-aggregated exchange + a bounded
    k x dims driver collect."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    return kmeans_lloyd(
        _t_wide(spark, sf_dir, "embeddings"), k=8, dims=8, rounds=2
    )


@register(
    "cluster_balanced_sample",
    oracle=_kmeans_cte()
    + f""",
    fr AS (SELECT vec_id, cell,
                  (('0x' || substr(md5('0|' || CAST(vec_id AS VARCHAR)),
                                   1, 15))::BIGINT
                   / 1152921504606846976.0) AS frac
           FROM af),
    rk AS (SELECT vec_id, cell, frac,
                  row_number() OVER (PARTITION BY cell
                                     ORDER BY frac, vec_id) AS rank
           FROM fr)
    SELECT CAST(cell AS INT) AS cell, vec_id,
           CAST(rank AS INT) AS rank
    FROM rk WHERE rank <= 10
    """,
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced data mixing: k-means the embedding corpus,
    then draw an EQUAL per-cluster quota (10) by deterministic md5
    fraction — the semantic-diversity sampler (DataComp / cluster-
    and-filter style) that stops one dense region dominating a
    training mix the way plain uniform sampling would. Determinism:
    the k-means assignment is the engine-exact integer path and the
    quota draw is the md5('0|id') fraction every sampler here uses
    (predicates.md5_fraction parity). Scale: assignment is the
    per-row fold; the quota is one per-cell window over rows already
    partitioned by cell — no corpus-wide sort."""
    from petastorm_spark.operators.similarity import kmeans_lloyd
    from petastorm_spark.predicates import md5_fraction
    from pyspark.sql import Window

    a = kmeans_lloyd(
        _t_wide(spark, sf_dir, "embeddings"),
        k=8, dims=8, rounds=2, output="assign",
    )
    a = a.withColumn(
        "_frac",
        md5_fraction(F.concat_ws("|", F.lit("0"), F.col("vec_id"))),
    )
    # two-phase top-10: with only k cells, a single cell-partitioned
    # window would sort N/k rows in one task — take each scan
    # partition's local top-10 first, then rank the <= 10*partitions
    # survivors (the topk_per_query discipline; md5 fractions are
    # unique so the final set is identical)
    wl = Window.partitionBy("cell", F.spark_partition_id()).orderBy(
        "_frac", "vec_id"
    )
    local = a.withColumn("_lr", F.row_number().over(wl)).where(
        F.col("_lr") <= 10
    )
    w = Window.partitionBy("cell").orderBy("_frac", "vec_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("cell", "vec_id", "rank")
    )


def _profile_col_sql(col: str, kind: str) -> str:
    mn = (
        f"CAST(min({col}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
    )
    mx = (
        f"CAST(max({col}) AS DOUBLE)" if kind == "num" else "CAST(NULL AS DOUBLE)"
    )
    ms = f"min({col})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    xs = f"max({col})" if kind == "str" else "CAST(NULL AS VARCHAR)"
    return f"""
    SELECT '{col}' AS "column", count(*) AS n,
           count(CASE WHEN {col} IS NULL THEN 1 END) AS n_null,
           count(DISTINCT {col}) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {ms} AS min_str, {xs} AS max_str
    FROM documents"""


@register(
    "profile_documents",
    oracle=" UNION ALL ".join(
        _profile_col_sql(c, k)
        for c, k in (
            ("doc_id", "num"),
            ("text", "str"),
            ("lang", "str"),
            ("source", "str"),
            ("n_chars", "num"),
        )
    ),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Deequ-style column profile of the documents table —
    the pre-release data-quality report (row/null/distinct counts,
    numeric and lexicographic extremes per column). All metrics are
    exact counts / extreme selections, no float arithmetic; the plan
    is ONE Aggregate (single exchange) + a plan-literal explode, so
    profiling five columns costs one scan."""
    from petastorm_spark.operators.profiling import profile_columns

    return profile_columns(
        _t_wide(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


@register(
    "constraint_check_orders",
    oracle="""
    WITH checks AS (
      SELECT 'not_null' AS "check", 'o_orderkey' AS "column",
             count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'range', 'o_totalprice',
             count(CASE WHEN o_totalprice IS NULL
                          OR NOT (o_totalprice >= 0.0
                                  AND o_totalprice <= 600000.0)
                        THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
             count(CASE WHEN o_orderstatus IS NULL
                          OR o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'regex', 'o_orderpriority',
             count(CASE WHEN o_orderpriority IS NULL
                          OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                        THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'unique', 'o_orderkey',
             (SELECT coalesce(sum(cnt), 0) FROM (
                SELECT count(*) AS cnt FROM orders
                WHERE o_orderkey IS NOT NULL
                GROUP BY o_orderkey HAVING count(*) > 1))
      FROM (SELECT 1))
    SELECT "check", "column", CAST(n_violations AS BIGINT) AS n_violations,
           (n_violations = 0) AS passed
    FROM checks
    """,
)
def constraint_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract assertion over the orders table (Great-Expectations
    style): key not-null + unique, price range, status membership,
    priority format — one row per check with the exact violation
    count and the release-gate boolean. The non-unique checks fuse
    into ONE filter-count scan; unique is one key-grouped count."""
    from petastorm_spark.operators.profiling import check_constraints

    return check_constraints(
        _t(spark, sf_dir, "orders"),
        [
            ("not_null", "o_orderkey"),
            ("range", "o_totalprice", 0.0, 600000.0),
            ("in_set", "o_orderstatus", ["O", "F", "P"]),
            ("regex", "o_orderpriority", "^[1-5]-"),
            ("unique", "o_orderkey"),
        ],
    )


@register(
    "pii_l_diversity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000)
                                    AS BIGINT)) AS BIGINT)
               AS n_sensitive_values,
           CAST(count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000)
                                    AS BIGINT)) < 3 AS INT) AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def pii_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity over the k-anonymity fixture's QI space:
    classes = (nation, segment), sensitive attribute = the account-
    balance bucket — a class can pass k-anonymity yet disclose its
    members' balances if every member shares one bucket
    (Machanavajjhala 2006, the attribute-disclosure gate next to
    pii_k_anonymity's linkage gate)."""
    from petastorm_spark.operators.privacy import l_diversity_report

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket",
        F.floor(F.col("c_acctbal").cast("double") / 1000).cast("bigint"),
    )
    return l_diversity_report(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
    )


@register(
    "source_mix_report",
    oracle=r"""
    WITH per AS (SELECT source, count(*) AS n_docs,
                        sum(len(string_split_regex(lower(trim(text)),
                                                   '\s+'))) AS n_tokens
                 FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tokens) AS tt, count(*) AS ng FROM per),
    ranked AS (SELECT per.*, tot.tt, tot.ng,
                      row_number() OVER (ORDER BY n_tokens, source) AS r
               FROM per, tot)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE), 6)
               AS token_share,
           round(CASE WHEN n_tokens > 0
                      THEN -((CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE))
                             * ln(CAST(n_tokens AS DOUBLE)
                                  / CAST(tt AS DOUBLE)))
                      ELSE 0.0 END, 6) AS ent_term,
           CAST(CAST(2 * r - ng - 1 AS HUGEINT) * n_tokens AS VARCHAR)
               AS gini_num
    FROM ranked
    """,
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix balance diagnostic: per source the token mass, token
    share, Shannon-entropy term (sum = mix entropy; exp = effective
    source count) and exact-integer Gini numerator term — the numbers
    a data-mixing decision reads before temperature-sampling
    (token_budget_mix / sample_temperature are the actuators, this is
    the gauge)."""
    from petastorm_spark.operators.sampling_extra import source_mix_report

    return source_mix_report(
        _t_wide(spark, sf_dir, "documents"), "text", "source"
    )


@register(
    "partition_digests_events",
    oracle=r"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(
                    coalesce(CAST(event_id AS VARCHAR), chr(0))
                    || chr(31) ||
                    coalesce(CAST(user_id AS VARCHAR), chr(0))
                    || chr(31) ||
                    coalesce(event_type, chr(0))), 1, 15))::BIGINT)
                AS VARCHAR) AS digest
    FROM events GROUP BY 1
    """,
)
def partition_digests_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day content digests of the events table — the Merkle-style
    sync manifest: compare two snapshots' digest tables (day-count
    sized) and row-diff ONLY the days whose digests moved. The
    additive 60-bit md5 sum is order-free (shuffles and file layout
    can't change it) and exactly reproducible by the oracle. Digest
    columns chosen for cross-engine cast stability (bigints +
    strings)."""
    from petastorm_spark.operators.layout import partition_digests

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    return partition_digests(
        ev, ["day"], ["event_id", "user_id", "event_type"]
    )


@register(
    "manifest_diff_events",
    oracle=r"""
    WITH ev AS (SELECT *, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
                FROM events),
    md AS (SELECT min(day) AS d FROM ev),
    evb AS (SELECT event_id, user_id,
                   CASE WHEN day = (SELECT d FROM md)
                        THEN event_type || '_v2' ELSE event_type END
                       AS event_type,
                   day
            FROM ev),
    dig_a AS (SELECT day, count(*) AS n_rows_a,
                     CAST(sum(('0x' || substr(md5(
                         coalesce(CAST(event_id AS VARCHAR), chr(0))
                         || chr(31) ||
                         coalesce(CAST(user_id AS VARCHAR), chr(0))
                         || chr(31) ||
                         coalesce(event_type, chr(0))), 1,
                         15))::BIGINT) AS VARCHAR) AS dg
              FROM ev GROUP BY day),
    dig_b AS (SELECT day, count(*) AS n_rows_b,
                     CAST(sum(('0x' || substr(md5(
                         coalesce(CAST(event_id AS VARCHAR), chr(0))
                         || chr(31) ||
                         coalesce(CAST(user_id AS VARCHAR), chr(0))
                         || chr(31) ||
                         coalesce(event_type, chr(0))), 1,
                         15))::BIGINT) AS VARCHAR) AS dg
              FROM evb GROUP BY day)
    SELECT coalesce(a.day, b.day) AS day,
           a.n_rows_a, b.n_rows_b,
           CASE WHEN a.dg IS NULL THEN 'added'
                WHEN b.dg IS NULL THEN 'removed'
                WHEN a.dg = b.dg THEN 'same'
                ELSE 'changed' END AS status
    FROM dig_a a FULL OUTER JOIN dig_b b
      ON a.day IS NOT DISTINCT FROM b.day
    """,
)
def manifest_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sync-manifest story: snapshot B mutates ONE day's
    event_type values, both snapshots produce their partition-digest
    manifests, and manifest_diff pins exactly that day as 'changed'
    with every other day 'same' — the partition-count-sized decision
    of what to re-sync, no row-level work until a digest moves."""
    from petastorm_spark.operators.layout import (
        manifest_diff,
        partition_digests,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    cols = ["event_id", "user_id", "event_type"]
    a = partition_digests(ev, ["day"], cols)
    md = ev.agg(F.min("day").alias("_md"))
    evb = (
        ev.crossJoin(F.broadcast(md))
        .withColumn(
            "event_type",
            F.when(
                F.col("day") == F.col("_md"),
                F.concat(F.col("event_type"), F.lit("_v2")),
            ).otherwise(F.col("event_type")),
        )
        .drop("_md")
    )
    b = partition_digests(evb, ["day"], cols)
    return manifest_diff(a, b, ["day"])


@register(
    "pii_t_closeness",
    oracle="""
    WITH base AS (SELECT c_nationkey, c_mktsegment,
                         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000)
                              AS BIGINT) AS v
                  FROM customer WHERE c_acctbal IS NOT NULL),
    vals AS (SELECT DISTINCT v FROM base),
    mm AS (SELECT count(*) AS m FROM vals),
    nt AS (SELECT count(*) AS n FROM base),
    g0 AS (SELECT v, count(*) AS g FROM base GROUP BY v),
    gcdf AS (SELECT v, sum(g) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                    PRECEDING AND CURRENT ROW) AS cum_g
             FROM g0),
    cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS nq
            FROM base GROUP BY 1, 2),
    cv AS (SELECT c_nationkey, c_mktsegment, v, count(*) AS c
           FROM base GROUP BY 1, 2, 3),
    grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nq, vals.v,
                    coalesce(cv.c, 0) AS c
             FROM cls CROSS JOIN vals
             LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
                         AND cv.c_mktsegment = cls.c_mktsegment
                         AND cv.v = vals.v),
    stepped AS (SELECT *, sum(c) OVER (PARTITION BY c_nationkey,
                                       c_mktsegment ORDER BY v
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum_c
                FROM grid),
    diff AS (SELECT s.c_nationkey, s.c_mktsegment, s.nq,
                    abs(CAST(s.cum_c AS HUGEINT) * (SELECT n FROM nt)
                        - CAST(g.cum_g AS HUGEINT) * s.nq) AS d
             FROM stepped s JOIN gcdf g ON g.v = s.v),
    agg AS (SELECT c_nationkey, c_mktsegment, nq, sum(d) AS num
            FROM diff GROUP BY 1, 2, 3),
    fin AS (SELECT c_nationkey, c_mktsegment,
                   CAST(nq AS BIGINT) AS class_size,
                   CASE WHEN (SELECT m FROM mm) > 1
                        THEN round(CAST(num AS DOUBLE)
                             / (CAST(nq AS DOUBLE)
                                * CAST((SELECT n FROM nt) AS DOUBLE)
                                * CAST((SELECT m FROM mm) - 1 AS DOUBLE)),
                             6)
                        ELSE 0.0 END AS emd
            FROM agg)
    SELECT c_nationkey, c_mktsegment, class_size, emd,
           CAST(emd > 0.2 AS INT) AS at_risk
    FROM fin
    """,
)
def pii_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the k-anonymity fixture's QI space (classes =
    nation x segment, sensitive = balance bucket, t = 0.2): flags
    classes whose balance DISTRIBUTION drifts from the corpus's —
    the skewness-attack gate above l-diversity (a class can carry
    many distinct values yet concentrate on the sensitive tail). EMD
    over the ordered domain from exact cross-multiplied cumulative
    integers; one double division at the end."""
    from petastorm_spark.operators.privacy import t_closeness_report

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket",
        F.floor(F.col("c_acctbal").cast("double") / 1000).cast("bigint"),
    )
    return t_closeness_report(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", t=0.2
    )


@register(
    "dp_event_type_release",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(round(least(greatest(CAST(value AS DOUBLE), 0.0),
                                  100.0) * 1000000, 0) AS HUGEINT)) AS sq
      FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, n, sq,
             (('0x' || substr(md5('0n|' || coalesce(event_type, chr(0))), 1, 15))::BIGINT
              / 1152921504606846976.0) AS un,
             (('0x' || substr(md5('0s|' || coalesce(event_type, chr(0))), 1, 15))::BIGINT
              / 1152921504606846976.0) AS us
      FROM g)
    SELECT event_type,
           round(CAST(n AS DOUBLE)
                 + (-1.0) * (CASE WHEN un >= 0.5 THEN 1.0 ELSE -1.0 END)
                   * ln(greatest(1e-12, 1.0 - 2.0 * abs(un - 0.5))), 6)
               AS noisy_count,
           round(CAST(sq AS DOUBLE) / 1000000.0
                 + (-100.0) * (CASE WHEN us >= 0.5 THEN 1.0 ELSE -1.0 END)
                   * ln(greatest(1e-12, 1.0 - 2.0 * abs(us - 0.5))), 6)
               AS noisy_sum
    FROM u
    """,
)
def dp_event_type_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-DP release of the per-event-type histogram: exact counts +
    Laplace(1/eps) noise, [0,100]-clipped value sums +
    Laplace(100/eps) noise (eps=1) — the aggregate-release leg of the
    privacy family next to pii_k_anonymity's row gate. The md5-seeded
    inverse-CDF noise is the reproducible audit mode; the oracle
    replays the identical mechanism bit-for-bit (production swaps in
    a secure RNG)."""
    from petastorm_spark.operators.privacy import dp_group_release

    return dp_group_release(
        _t(spark, sf_dir, "events"),
        "event_type",
        epsilon=1.0,
        value_col="value",
        clip_lo=0.0,
        clip_hi=100.0,
    )


@register(
    "token_label_mi_lang",
    oracle=rf"""
    WITH base AS (
      SELECT DISTINCT doc_id, lang AS label, tok.token
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\s+'))
               AS tok(token)),
    tl AS (SELECT token, label, count(*) AS n_tl
           FROM base GROUP BY token, label),
    tc AS (SELECT token, sum(n_tl) AS n_t FROM tl
           GROUP BY token HAVING sum(n_tl) >= 5),
    lc AS (SELECT lang AS label, count(*) AS n_l
           FROM documents GROUP BY lang),
    nn AS (SELECT count(*) AS N FROM documents),
    grid AS (SELECT tc.token, lc.label, tc.n_t, lc.n_l,
                    coalesce(tl.n_tl, 0) AS n_tl, nn.N
             FROM tc CROSS JOIN lc
             LEFT JOIN tl ON tl.token = tc.token
                         AND tl.label IS NOT DISTINCT FROM lc.label,
                  nn)
    SELECT token, label,
           CAST(n_tl AS BIGINT) AS n_tl,
           CAST(n_t AS BIGINT) AS n_t,
           CAST(n_l AS BIGINT) AS n_l,
           round(
             (CASE WHEN n_tl > 0
                   THEN (CAST(n_tl AS DOUBLE) / N)
                        * ln((N * CAST(n_tl AS DOUBLE))
                             / (CAST(n_t AS DOUBLE) * CAST(n_l AS DOUBLE)))
                   ELSE 0 END)
             + (CASE WHEN (n_l - n_tl) > 0 AND (N - n_t) > 0
                     THEN ((CAST(n_l AS DOUBLE) - CAST(n_tl AS DOUBLE)) / N)
                          * ln((N * (CAST(n_l AS DOUBLE)
                                     - CAST(n_tl AS DOUBLE)))
                               / ((CAST(N AS DOUBLE) - CAST(n_t AS DOUBLE))
                                  * CAST(n_l AS DOUBLE)))
                     ELSE 0 END), 6) AS mi_term
    FROM grid
    """,
)
def token_label_mi_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token <-> language mutual information over the corpus — the
    supervised feature-selection table (which tokens carry label
    signal) behind quality/domain classifier vocabularies; the
    labeled sibling of PMI (token-token) and PSI (drift). Full vocab
    x label grid at min_df=5; sum(mi_term) per token = its MI."""
    from petastorm_spark.operators.text import token_label_mi

    return token_label_mi(
        _t_wide(spark, sf_dir, "documents"), "text", "lang", min_df=5
    )


@register(
    "text_feature_hash_embed",
    oracle=r"""
    WITH tok AS (SELECT doc_id, t.tok
                 FROM documents,
                      unnest(string_split_regex(lower(trim(text)), '\s+'))
                          AS t(tok)),
    h AS (SELECT doc_id,
                 (('0x' || substr(md5('0|' || tok), 1, 15))::BIGINT) AS h60
          FROM tok),
    b AS (SELECT doc_id, CAST(h60 % 64 AS INT) AS bucket,
                 CASE WHEN (h60 // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
          FROM h),
    c AS (SELECT doc_id, bucket, sum(s) AS v FROM b GROUP BY doc_id, bucket),
    grid AS (SELECT d.doc_id, CAST(g.bucket AS INT) AS bucket
             FROM (SELECT DISTINCT doc_id FROM documents) d,
                  (SELECT unnest(range(64)) AS bucket) g),
    f AS (SELECT grid.doc_id, grid.bucket,
                 CAST(coalesce(c.v, 0) AS BIGINT) AS v
          FROM grid LEFT JOIN c ON c.doc_id = grid.doc_id
                               AND c.bucket = grid.bucket)
    SELECT doc_id, string_agg(v::VARCHAR, ',' ORDER BY bucket)
               AS embedding_csv
    FROM f GROUP BY doc_id
    """,
)
def text_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text vectorization via the signed hashing trick
    (64-dim): the bridge that feeds the similarity stack (cosine,
    LSH, IVF, kNN graph, semantic dedup) straight from the text
    column — no external embedding model, no vocabulary, fully
    engine-exact (md5 buckets/signs, integer sums). The driver row
    flattens the vector to a CSV of the exact integer counts (the
    registry's scalar-columns contract); the operator itself returns
    the array column."""
    from petastorm_spark.operators.text import feature_hash_embed

    emb = feature_hash_embed(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", dim=64
    )
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform(
                "embedding", lambda x: x.cast("long").cast("string")
            ),
            ",",
        ).alias("embedding_csv"),
    )


@register(
    "readability_scores",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\s+')) AS w,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
             len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS y
      FROM documents)
    SELECT doc_id,
           CAST(w AS INT) AS n_words,
           CAST(s AS INT) AS n_sentences,
           CAST(y AS INT) AS n_syllables,
           round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                 - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)), 4)
               AS flesch,
           round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                 + 11.8 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
                 - 15.59, 4) AS fk_grade
    FROM c WHERE w > 0
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic readability scoring per document — Flesch reading ease
    + Flesch-Kincaid grade level over exact integer word / sentence /
    vowel-group-syllable counts, the prose-complexity member of the
    quality-signal family (quality_score's ratio bundle, the Gopher
    repetition ladder, the CCNet LM floor). Engine-exact: identical
    integer counts feed the same IEEE double formula in both engines.
    Scale: three regexp counters per row, pure per-row map, zero
    shuffles."""
    from petastorm_spark.operators.text import (
        fk_grade_level,
        flesch_reading_ease,
        sentence_count,
        syllable_count,
        token_count,
    )

    d = _t_wide(spark, sf_dir, "documents")
    return d.where(token_count("text") > 0).select(
        "doc_id",
        token_count("text").alias("n_words"),
        sentence_count("text").alias("n_sentences"),
        syllable_count("text").alias("n_syllables"),
        F.round(flesch_reading_ease("text"), 4).alias("flesch"),
        F.round(fk_grade_level("text"), 4).alias("fk_grade"),
    )


@register(
    "embedding_outliers",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, i, CAST(round(v[i] * 1000000, 0) AS BIGINT) AS x
          FROM e, unnest(range(1, 9)) AS u(i)),
    m AS (SELECT i, CAST(2 * median(x) AS BIGINT) AS med2 FROM x GROUP BY i),
    d AS (SELECT x.vec_id, x.i, abs(2 * x.x - m.med2) AS d2
          FROM x JOIN m USING (i)),
    md AS (SELECT i, CAST(2 * median(d2) AS BIGINT) AS mad4 FROM d GROUP BY i),
    f AS (SELECT d.vec_id, d.i,
                 CASE WHEN d.d2 * 20000 > 37065 * md.mad4
                      THEN 1 ELSE 0 END AS bad,
                 (d.d2 * 20000) // md.mad4 AS ratio_bp
          FROM d JOIN md USING (i) WHERE md.mad4 > 0),
    w AS (SELECT vec_id, i, ratio_bp,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY ratio_bp DESC, i) AS rn
          FROM f),
    g AS (SELECT vec_id, sum(bad) AS n_bad FROM f GROUP BY vec_id)
    SELECT g.vec_id, CAST(g.n_bad AS BIGINT) AS n_bad_dims,
           CAST(w.i AS INT) AS worst_dim,
           CAST(w.ratio_bp AS BIGINT) AS worst_ratio_bp
    FROM g JOIN w ON w.vec_id = g.vec_id AND w.rn = 1
    WHERE g.n_bad > 0
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-dimension outlier screen over the leading 8 dims
    (modified z-score |x-med| / (1.4826*MAD) > 2.5, Iglewicz &
    Hoaglin): the actionable consumer of embedding_dim_robust_stats —
    flags corrupt/adversarial vectors a mean/std screen smooths over.
    Engine-exact end to end: the flag and the reported basis-point
    ratio are bigint products and integer floor division over the
    same micro-quantized medians the oracle computes."""
    from petastorm_spark.operators.similarity import embedding_outliers as eo

    return eo(_t_wide(spark, sf_dir, "embeddings"), dims=8, z=2.5)


@register(
    "video_shot_boundaries",
    oracle="""
    WITH frames AS (
      SELECT doc_id, t.t
      FROM documents, (SELECT unnest(range(20)) AS t) t
      WHERE t.t < 13 + doc_id % 7
    ),
    sums AS (
      SELECT doc_id, f.t,
             SUM(('0x' || substr(md5(doc_id::VARCHAR || '_v' || f.t::VARCHAR),
                                 2 * b.b + 1, 2))::BIGINT) AS s
      FROM frames f, (SELECT unnest(range(4)) AS b) b
      GROUP BY doc_id, f.t
    ),
    d AS (SELECT doc_id, t,
                 s - lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS df
          FROM sums),
    cuts AS (SELECT doc_id, t FROM d WHERE abs(df) >= 300)
    SELECT s.doc_id,
           CAST(13 + s.doc_id % 7 AS BIGINT) AS n_frames,
           CAST(count(c.t) AS BIGINT) AS n_cuts,
           coalesce(string_agg(c.t::VARCHAR, ',' ORDER BY c.t), '')
               AS cuts_csv
    FROM (SELECT DISTINCT doc_id FROM sums) s
    LEFT JOIN cuts c ON c.doc_id = s.doc_id
    GROUP BY s.doc_id
    """,
)
def video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection end to end: the variable-length
    (T, 2, 2) md5-pixel videos from the frame-sample fixture pass
    through the SAD cut detector at threshold 300 — per-frame INTEGER
    pixel sums, so the cut set is integer-exact and the oracle is a
    lag() window over the same md5 byte sums. Output (doc_id,
    n_frames, n_cuts, cuts_csv). Scale: one per-row Python UDF map."""
    from petastorm_spark.operators.multimodal import shot_boundaries

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    vids = _blob_column(ids, "video", _md5_video)
    return shot_boundaries(vids, "video", "doc_id", threshold=300)


@register(
    "audio_silence_spans",
    oracle="""
    WITH w AS (
      SELECT doc_id, t.w,
             ('0x' || substr(md5(doc_id::VARCHAR || '_w' || t.w::VARCHAR),
                             1, 2))::BIGINT AS b
      FROM documents, (SELECT unnest(range(13)) AS w) t
      WHERE t.w < 8 + doc_id % 5
    ),
    blocks AS (SELECT doc_id, w, 16 * abs(b - 60) AS e,
                      (16 * abs(b - 60) < 160) AS silent
               FROM w),
    isl AS (SELECT doc_id, w, silent,
                   w - row_number() OVER (PARTITION BY doc_id, silent
                                          ORDER BY w) AS grp
            FROM blocks),
    runs AS (SELECT doc_id, count(*) AS run_len
             FROM isl WHERE silent GROUP BY doc_id, grp)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN b.silent THEN 1 ELSE 0 END) AS BIGINT)
               AS n_silent,
           CAST(coalesce(max(r.mx), 0) AS BIGINT) AS longest_silence
    FROM blocks b
    LEFT JOIN (SELECT doc_id, max(run_len) AS mx FROM runs GROUP BY doc_id) r
      ON r.doc_id = b.doc_id
    GROUP BY b.doc_id
    """,
)
def audio_silence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence/trim report end to end: mono WAV clips whose w-th
    16-sample block is the constant (md5_byte - 60) — so a block's
    abs-sum is exactly 16*|b-60| and 'silent' (< 160) is an integer
    comparison — pass through the silence_spans run-length kernel.
    The oracle recomputes blocks from the same md5 bytes and finds the
    longest run with gaps-and-islands. Scale: per-row Python UDF
    maps."""
    import hashlib

    from petastorm_spark.operators.audio import encode_wav, silence_spans

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def clip(d: int) -> bytes:
        s = np.concatenate(
            [
                np.full(
                    16,
                    hashlib.md5(f"{d}_w{w}".encode()).digest()[0] - 60,
                    dtype=np.int16,
                )
                for w in range(8 + d % 5)
            ]
        )
        return encode_wav(s.reshape(-1, 1), 16000)

    wavs = _blob_column(ids, "audio", clip)
    return silence_spans(wavs, "audio", "doc_id", window=16, threshold=160)


def _ivf_auto_oracle(n_probe: int = 3, k: int = 5) -> str:
    """:func:`_ivf_oracle` with the AUTO cell count — the quantizer
    takes the greatest(16, ceil(sqrt(N))) lowest-id vectors, computed
    from the corpus itself exactly as
    operators/similarity.auto_n_cells does (the r14 default)."""
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM (
        SELECT vec_id, v,
               row_number() OVER (ORDER BY vec_id) AS rk,
               count(*) OVER () AS n
        FROM e) WHERE rk <= greatest(16, CAST(ceil(sqrt(n)) AS BIGINT))),
    ca AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c) WHERE rn = 1),
    qp AS (SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC, c.cell) AS rn
        FROM e, cent c WHERE e.vec_id < 10) WHERE rn <= {n_probe}),
    s AS (SELECT query_id, ca.vec_id AS neighbor_id, {cos('qp.qv', 'ca.v')} AS cos
          FROM qp JOIN ca USING (cell) WHERE ca.vec_id != query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


@register("ann_cosine_ivf_auto", oracle=_ivf_auto_oracle())
def ann_cosine_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 under the r14 AUTO sizing default
    (n_cells=None): the quantizer is sqrt(N) lowest-id vectors,
    derived from one metadata-cheap count — at corpus scale a fixed
    cell count turns the candidate join quadratic; sqrt(N) keeps
    per-query candidate work ~sqrt(N). The oracle recomputes
    greatest(16, ceil(sqrt(N))) from the same corpus, so the gate
    pins the SIZING RULE itself, not just one pinned quantizer."""
    from petastorm_spark.operators.similarity import cosine_topk_ivf

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_probe=3
    )


@register(
    "dp_release_stability",
    oracle="""
    WITH g AS (
      SELECT n_chars // 4 AS len_bucket, count(*) AS n
      FROM documents GROUP BY 1),
    u AS (
      SELECT len_bucket, n,
             (('0x' || substr(md5('0n|' || coalesce(CAST(len_bucket AS VARCHAR),
                                                    chr(0))), 1, 15))::BIGINT
              / 1152921504606846976.0) AS un
      FROM g),
    rel AS (
      SELECT len_bucket,
             round(CAST(n AS DOUBLE)
                   + (-1.0) * (CASE WHEN un >= 0.5 THEN 1.0 ELSE -1.0 END)
                     * ln(greatest(1e-12, 1.0 - 2.0 * abs(un - 0.5))), 6)
                 AS noisy_count
      FROM u)
    SELECT len_bucket, noisy_count
    FROM rel WHERE noisy_count >= 1.0 + ln(10.0)
    """,
)
def dp_release_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(eps, delta)-DP histogram release over an UNBOUNDED key domain
    (doc-length buckets — the key set itself is data): the stability
    threshold withholds any group whose noisy count falls under
    1 + ln(1/(2*delta))/eps (eps=1, delta=0.05 -> tau = 1 + ln 10),
    so a neighboring dataset's extra singleton group changes the
    output only with probability <= delta — the presence leak the
    bare release has (see dp_event_type_release's public-enum domain).
    The md5-seeded noise makes the whole mechanism, threshold
    included, bit-replayable by the oracle. Scale: one partial-agg
    groupBy; noise + threshold are output-sized maps."""
    from petastorm_spark.operators.privacy import dp_group_release

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("n_chars div 4")
    )
    return dp_group_release(
        docs, "len_bucket", epsilon=1.0, seed=0, delta=0.05
    )


@register(
    "vocab_growth_heaps",
    oracle=r"""
    WITH d AS (SELECT text,
                      row_number() OVER (ORDER BY doc_id) AS rn
               FROM documents),
    nn AS (SELECT count(*) AS n FROM documents),
    pts AS (SELECT CAST(k AS INT) AS point,
                   ((SELECT n FROM nn) * k + 15) // 16 AS prefix_docs
            FROM (SELECT unnest(range(1, 17)) AS k)),
    tok AS (SELECT rn, t.token
            FROM d, unnest(string_split_regex(lower(trim(text)), '\s+'))
                 AS t(token)),
    firsts AS (SELECT token, min(rn) AS first_rn FROM tok GROUP BY token),
    dtc AS (SELECT rn, count(*) AS tc FROM tok GROUP BY rn),
    voc AS (SELECT point, prefix_docs, count(*) AS vocab
            FROM pts JOIN firsts ON first_rn <= prefix_docs
            GROUP BY point, prefix_docs),
    cum AS (SELECT point, sum(tc) AS n_tokens_cum
            FROM pts JOIN dtc ON rn <= prefix_docs
            GROUP BY point)
    SELECT voc.point, CAST(voc.prefix_docs AS BIGINT) AS prefix_docs,
           CAST(cum.n_tokens_cum AS BIGINT) AS n_tokens_cum,
           CAST(voc.vocab AS BIGINT) AS vocab,
           CASE WHEN cum.n_tokens_cum > 0
                THEN round(ln(CAST(cum.n_tokens_cum AS DOUBLE)), 6) END
               AS ln_tokens,
           CASE WHEN voc.vocab > 0
                THEN round(ln(CAST(voc.vocab AS DOUBLE)), 6) END AS ln_vocab
    FROM voc JOIN cum USING (point)
    """,
)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over the documents corpus: 16
    evenly-spaced doc-order prefixes, each reporting cumulative token
    count, distinct vocabulary, and their ln terms — the accretion
    law next to zipf_corpus_fit's static rank law (template-heavy or
    synthetic corpora bend the curve). Exact: vocab-at-prefix counts
    tokens by FIRST-occurrence rank (min global row_number), integer
    thresholds (N*k+15) div 16 on both engines. Scale: global_rank
    two-phase rank (no single-task window), ONE token explode feeding
    both tables, 16-row broadcast thresholds."""
    from petastorm_spark.operators.text import vocab_growth

    return vocab_growth(
        _t_wide(spark, sf_dir, "documents"), "text", "doc_id", n_points=16
    )


@register(
    "embedding_intrinsic_dim",
    oracle=_knn_graph_cte(k=2, n_cells=16, n_probe=2)
    + r"""
    , pivoted AS (
      SELECT query_id,
             round(1.0 - max(CASE WHEN rank = 1 THEN cos END), 4) AS r1,
             round(1.0 - max(CASE WHEN rank = 2 THEN cos END), 4) AS r2
      FROM r WHERE rank <= 2 GROUP BY query_id)
    SELECT query_id, r1, r2,
           round(ln(r2 / r1), 6) AS ln_ratio
    FROM pivoted
    WHERE r1 > 0 AND r2 > 0
    """,
)
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension terms (Facco et al. 2017 MLE: the
    data manifold's dimension is 1 / mean(ln(r2/r1)) over each
    point's two nearest-neighbor distances) — the geometry diagnostic
    that tells an embedding-pipeline owner whether 64 stored
    dimensions carry ~8 effective ones (quantize/project harder, see
    embedding_jl_projection) or genuinely need the width. Distances
    are cosine distances over the SAME deterministic IVF kNN graph
    the knn_graph_ivf gate pins (k=2, 16 lowest-id cells, 2 probes),
    so the oracle replays the exact candidate structure; per-query
    term rows (query_id, r1, r2, ln_ratio) follow the psi_term/
    rbo_term convention — the MLE is one mean away, never a cross-row
    double sum inside the gate. Duplicate-free fixture: r1 > 0
    enforced by the c1 < 1.0 filter on both engines. Scale: the kNN
    graph is the bucket-first candidate plan; the pivot is one
    groupBy over 2N edge rows."""
    from petastorm_spark.operators.similarity import knn_graph

    emb = _t_wide(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, k=2, n_cells=16, n_probe=2)
    piv = edges.groupBy("query_id").agg(
        F.round(
            F.lit(1.0) - F.max(F.when(F.col("rank") == 1, F.col("cos_sim"))),
            4,
        ).alias("r1"),
        F.round(
            F.lit(1.0) - F.max(F.when(F.col("rank") == 2, F.col("cos_sim"))),
            4,
        ).alias("r2"),
    )
    # the ln rides on the ALREADY-4dp-rounded distances so both
    # engines take ln over identical quantities (last-bit cos skew
    # amplified by the near-1 ratio would otherwise flip a direct
    # 4dp rounding of ln((1-c2)/(1-c1)) — measured on this fixture)
    return piv.where((F.col("r1") > 0) & (F.col("r2") > 0)).select(
        "query_id",
        "r1",
        "r2",
        F.round(F.log(F.col("r2") / F.col("r1")), 6).alias("ln_ratio"),
    )


@register(
    "event_gap_report",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
    g AS (SELECT user_id,
                 t - lag(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS gap_us
          FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps_over_1h,
           CAST(coalesce(max(gap_us), 0) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def event_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap report: count of gaps over one hour
    and the longest silence — the stream-health / liveness diagnostic
    next to sessionization (that one CUTS on gaps; this one MEASURES
    them, feeding downtime alerts and activity-based user tiering).
    All exact integer microsecond arithmetic. Scale: ONE
    user-partitioned window (lag) then a partial-agg groupBy on the
    same key — Spark plans a single exchange reused by both, no
    global sort, no Python."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", events_ts_us(ev).alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = e.withColumn("gap_us", F.col("t") - F.lag("t").over(w))
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(F.col("gap_us") > 3_600_000_000, 1).otherwise(0)
        ).cast("bigint").alias("n_gaps_over_1h"),
        F.coalesce(F.max("gap_us"), F.lit(0)).cast("bigint").alias("max_gap_us"),
    )


@register(
    "equidepth_hist_prices",
    oracle="""
    WITH r AS (SELECT o_totalprice,
                      row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                          AS rk
               FROM orders),
    nn AS (SELECT count(*) AS n FROM orders),
    pts AS (SELECT CAST(k AS INT) AS bucket,
                   ((SELECT n FROM nn) * k + 15) // 16 AS thr
            FROM (SELECT unnest(range(1, 17)) AS k))
    SELECT bucket, o_totalprice AS boundary_price,
           CAST(thr AS BIGINT) AS boundary_rank
    FROM pts JOIN r ON r.rk = pts.thr
    """,
)
def equidepth_hist_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth histogram boundaries over order prices (16
    buckets): the k-th boundary is the order-statistic at rank
    ceil(N*k/16) — the planner-statistics / data-skew readout that
    approx_quantiles_chars approximates, computed exactly. Boundaries
    are SELECTED values (no arithmetic), so cross-engine parity is
    trivial; ranks are exact integers. Scale: the global order
    statistic uses the two-phase global_rank (range exchange +
    broadcast per-partition offsets — no single-task sort), and the
    16-row threshold table joins broadcast."""
    from petastorm_spark.operators.rank import global_rank
    from petastorm_spark.session import arrow_local_df

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    n = o.count()
    pts = [(k, (n * k + 15) // 16) for k in range(1, 17)]
    points = F.broadcast(
        arrow_local_df(
            spark,
            {"bucket": [p[0] for p in pts], "thr": [p[1] for p in pts]},
            "bucket int, thr bigint",
        )
    )
    ranked = global_rank(o, ["o_totalprice", "o_orderkey"], "rk")
    return ranked.join(points, F.col("rk") == F.col("thr")).select(
        "bucket",
        F.col("o_totalprice").alias("boundary_price"),
        F.col("thr").cast("bigint").alias("boundary_rank"),
    )


def _knn_hier_oracle(
    k: int = 3, n_cells: int = 64, n_l1: int = 8, l1_probe: int = 4,
    n_probe: int = 2,
) -> str:
    """SQL replay of BOTH quantizer levels of
    operators/similarity.probe_cells_hierarchical: L1 = the ``n_l1``
    lowest-cell centroids; each centroid joins its nearest L1 group
    (ties to the lower group); each vector picks its ``l1_probe``
    nearest groups, and the exact top-``n_probe`` cells among those
    groups' member centroids (cos DESC, cell ASC — the flat probe's
    stable tie-break) become its probe list; rank-1 is the home cell;
    edges = the knn_graph candidate rule over (home, probes)."""
    cos = lambda a, b: (  # noqa: E731
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM e
             ORDER BY vec_id LIMIT {n_cells}),
    l1 AS (SELECT cell AS g, cv AS gv FROM cent ORDER BY cell LIMIT {n_l1}),
    cg AS (SELECT cell, g FROM (
        SELECT c.cell, l.g,
               row_number() OVER (PARTITION BY c.cell
                                  ORDER BY {cos('c.cv', 'l.gv')} DESC, l.g)
                   AS rn
        FROM cent c, l1 l) WHERE rn = 1),
    vg AS (SELECT vec_id, g FROM (
        SELECT e.vec_id, l.g,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'l.gv')} DESC, l.g)
                   AS rn
        FROM e, l1 l) WHERE rn <= {l1_probe}),
    vc AS (SELECT vec_id, cell, rn FROM (
        SELECT vg.vec_id, cg.cell,
               row_number() OVER (PARTITION BY vg.vec_id
                                  ORDER BY {cos('ev.v', 'ct.cv')} DESC,
                                           cg.cell) AS rn
        FROM vg JOIN cg ON cg.g = vg.g
                JOIN e ev ON ev.vec_id = vg.vec_id
                JOIN cent ct ON ct.cell = cg.cell) WHERE rn <= {n_probe}),
    asg AS (SELECT vc.vec_id, e.v, vc.cell
            FROM vc JOIN e USING (vec_id) WHERE rn = 1),
    pr AS (SELECT vc.vec_id AS query_id, e.v AS qv, vc.cell
           FROM vc JOIN e USING (vec_id)),
    x AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
                 {cos('pr.qv', 'asg.v')} AS cos
          FROM pr JOIN asg ON asg.cell = pr.cell
          WHERE asg.vec_id != pr.query_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM x)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(cos, 4) AS cos_sim
    FROM r WHERE rank <= {k}
    """


@register("knn_graph_hier", oracle=_knn_hier_oracle())
def knn_graph_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs kNN graph through the TWO-LEVEL coarse probe (r14's
    probe_cells_hierarchical, the assignment path for quantizers past
    _MAX_LOCAL_CELLS): 64 lowest-id cells, sqrt(64)=8 L1 groups,
    4-group probes — per-vector probe work ~2*sqrt(C) instead of C.
    Unlike the pytest agreement check, THIS gate replays both
    quantizer levels in SQL (centroid->group argmax, vector->group
    top-4, exact top-2 cells among member centroids with the flat
    probe's stable tie-break), so the hierarchical path is
    hash-checked end to end, not just recall-checked. ``l1_rounds=0``
    pins the RAW lowest-id L1 level (the r15 spherical-k-means L1
    refinement is plan-time iterative numpy — not SQL-replayable; the
    explicit-pin-for-oracle-parity convention of the IVF family)."""
    from petastorm_spark.operators.similarity import knn_graph

    return knn_graph(
        _t_wide(spark, sf_dir, "embeddings"),
        k=3, n_cells=64, n_probe=2, hierarchical=True, l1_rounds=0,
    )


@register(
    "events_ohlc",
    oracle="""
    WITH e AS (SELECT user_id,
                      epoch_us(ts) // 86400000000 AS day,
                      epoch_us(ts) AS t, event_id, value
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT user_id, day, value, t, event_id,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY t, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY t DESC, event_id DESC) AS rn_d
          FROM e)
    SELECT user_id, CAST(day AS BIGINT) AS day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, day
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (candlestick) downsample per (user, day) — the classic
    hypertable continuous-aggregate shape next to rollup_multigrain:
    open/close are the values AT the bucket's first/last event
    ((ts, event_id) total order, so ties are impossible and the
    extraction is exact — values are SELECTED, never computed, so
    cross-engine parity is trivial), high/low are plain extremes.
    Scale: ONE partial-aggregated groupBy — open/close ride as
    min/max over a (t, event_id, value) struct (argmin/argmax without
    a window or second shuffle), the same partial-agg argmax trick as
    ivf_build's fallback."""
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.where(F.col("value").isNotNull()).select(
        "user_id",
        F.expr("event_id").alias("eid"),
        events_ts_us(ev).alias("t"),
        "value",
    )
    e = e.withColumn("day", F.expr("t div 86400000000"))
    return e.groupBy("user_id", "day").agg(
        F.min(F.struct("t", "eid", "value")).getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("t", "eid", "value")).getField("value").alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# round 15: sequence analytics (Markov transitions, session path mining)
# and the oracle-gated contract-suggestion rules
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
               FROM events),
    s AS (SELECT event_type AS prev_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id) AS next_type
          FROM e),
    c AS (SELECT prev_type, next_type, count(*) AS n_trans
          FROM s WHERE next_type IS NOT NULL GROUP BY prev_type, next_type)
    SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
           round(n_trans / sum(n_trans) OVER (PARTITION BY prev_type), 6)
               AS prob
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov TRANSITION MATRIX over per-user event
    sequences ((ts, event_id) total order): corpus-wide (prev_type,
    next_type) counts and the row-normalized transition probability —
    the behavioral fingerprint under next-event prediction baselines,
    anomaly scoring (improbable transitions), and bot detection.
    Engine-exact: counts are exact integers, prob is one IEEE double
    division of exact integers (both engines), rounded at 6.

    Scale: ONE exchange on user_id feeds the lead() window (sequences
    never cross partitions), the count is a partial-aggregated groupBy
    on the K^2 type-pair domain, and the normalizing window runs on
    that K^2-row table — nothing downstream of the first shuffle is
    corpus-sized."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        events_ts_us(ev).alias("t"),
        F.col("event_id").alias("eid"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("t", "eid")
    s = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("prev_type"), "next_type")
    )
    c = s.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans")
    )
    wn = Window.partitionBy("prev_type")
    return c.withColumn(
        "prob", F.round(F.col("n_trans") / F.sum("n_trans").over(wn), 6)
    )


@register(
    "session_paths_topk",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                      coalesce(event_type, chr(0)) AS event_type
               FROM events),
    g AS (SELECT *,
                 CASE WHEN lag(t) OVER win IS NULL
                      OR t - lag(t) OVER win > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM e
          WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY t, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
          FROM g),
    p AS (SELECT event_type || '>' ||
                 lead(event_type, 1) OVER win2 || '>' ||
                 lead(event_type, 2) OVER win2 AS path,
                 lead(event_type, 2) OVER win2 AS t3
          FROM s
          WINDOW win2 AS (PARTITION BY user_id, sess ORDER BY t, event_id)),
    c AS (SELECT path, count(*) AS n FROM p WHERE t3 IS NOT NULL
          GROUP BY path),
    r AS (SELECT path, n,
                 row_number() OVER (ORDER BY n DESC, path) AS rank
          FROM c)
    SELECT CAST(rank AS INT) AS rank, path, CAST(n AS BIGINT) AS n
    FROM r WHERE rank <= 20
    """,
)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-20 session PATHS: sessionize per user (the sessionization
    query's 30-min gap rule), slide a 3-event window WITHIN each
    session, and rank the corpus's most frequent event-type trigram
    paths — the clickstream path-mining staple (funnel discovery
    without pre-declaring the funnel). Deterministic rank: (count
    DESC, path ASC) row_number, paths are unique per row so the
    tie-break is total.

    Scale: the gap flag, session id, AND the trigram leads all ride
    ONE exchange + ONE sort on the user_id window — a per-session
    window would re-exchange on (user, sess), and the sf1->sf10
    receipt measured that second shuffle+sort at 2x the decade ratio
    (4.8x vs 2.3x); instead, because ``sess`` is NONDECREASING in the
    user ordering, "all three events in one session" is exactly
    ``lead(sess, 2) == sess``, evaluated on the same window. The path
    count is a partial-aggregated groupBy on the bounded type^3 path
    domain and the top-k window runs on that bounded table."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        events_ts_us(ev).alias("t"),
        F.col("event_id").alias("eid"),
        # sentinel-coalesce (repo convention, chr(0)): concat_ws SKIPS
        # NULLs while the oracle's '||' NULL-propagates, so a NULL
        # event_type would silently collapse to a 2-element path here
        # but a NULL row there (r15 ADVICE)
        F.coalesce(F.col("event_type"), F.lit("\x00")).alias("event_type"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "eid")
    s = e.withColumn(
        "is_new",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "sess",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    p = (
        s.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        # sess is nondecreasing within the user ordering, so equal
        # endpoints pin the middle event to the same session too;
        # a NULL lead(sess, 2) (sequence tail) fails the equality
        .withColumn("s3", F.lead("sess", 2).over(w))
        .where(F.col("s3") == F.col("sess"))
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
    )
    c = p.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (
        c.withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= 20)
        .select("rank", "path", "n")
    )


@register(
    "contract_suggest_docs",
    oracle="""
    WITH p AS (
      SELECT 'doc_id' AS col_name, count(*) AS n,
             count(*) FILTER (doc_id IS NULL) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS DOUBLE) AS min_num,
             CAST(max(doc_id) AS DOUBLE) AS max_num,
             CAST(NULL AS VARCHAR) AS set_vals
      FROM documents
      UNION ALL
      SELECT 'n_chars', count(*), count(*) FILTER (n_chars IS NULL),
             count(DISTINCT n_chars),
             CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
             NULL
      FROM documents
      UNION ALL
      SELECT 'text', count(*), count(*) FILTER (text IS NULL),
             count(DISTINCT text), NULL, NULL,
             CASE WHEN count(DISTINCT text) BETWEEN 1 AND 16
                  THEN string_agg(DISTINCT text, '|' ORDER BY text) END
      FROM documents
      UNION ALL
      SELECT 'lang', count(*), count(*) FILTER (lang IS NULL),
             count(DISTINCT lang), NULL, NULL,
             CASE WHEN count(DISTINCT lang) BETWEEN 1 AND 16
                  THEN string_agg(DISTINCT lang, '|' ORDER BY lang) END
      FROM documents
      UNION ALL
      SELECT 'source', count(*), count(*) FILTER (source IS NULL),
             count(DISTINCT source), NULL, NULL,
             CASE WHEN count(DISTINCT source) BETWEEN 1 AND 16
                  THEN string_agg(DISTINCT source, '|' ORDER BY source) END
      FROM documents
    )
    SELECT 'not_null' AS chk, col_name, '' AS detail FROM p
    WHERE n_null = 0 AND n > 0
    UNION ALL
    SELECT 'unique', col_name, '' FROM p
    WHERE n_distinct = n - n_null AND n > n_null
    UNION ALL
    SELECT 'range', col_name,
           CAST(min_num AS VARCHAR) || '..' || CAST(max_num AS VARCHAR)
    FROM p WHERE n_null = 0 AND min_num IS NOT NULL
    UNION ALL
    SELECT 'in_set', col_name, set_vals FROM p
    WHERE n_null = 0 AND min_num IS NULL AND set_vals IS NOT NULL
    """,
)
def contract_suggest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contract-SUGGESTION rules (operators/profiling.py
    suggest_constraints — Deequ's ConstraintSuggestion leg) as an
    oracle-gated query: the checks the documents table currently
    satisfies, one row per (check kind, column, detail) with range
    bounds as 'lo..hi' and in_set values '|'-joined. The oracle
    re-derives every RULE independently in SQL — zero-null gating for
    range/in_set (the r14 ADVICE fix: both kinds count NULL as a
    violation, so nullable columns must not get them), uniqueness as
    distinct == non-null count, the 16-value in_set cap — so a rule
    regression flips the driver row, not just a unit test.

    Scale: suggest_constraints is one profile scan (every per-column
    aggregate fused) plus one bounded distinct collect per qualifying
    low-cardinality string column; the output is columns-sized."""
    from petastorm_spark.operators.profiling import suggest_constraints
    from petastorm_spark.session import arrow_local_df

    docs = _t(spark, sf_dir, "documents")
    rows: dict[str, list] = {"chk": [], "col_name": [], "detail": []}
    for chk in suggest_constraints(docs):
        kind, col = chk[0], chk[1]
        if kind == "range":
            detail = f"{float(chk[2])!r}..{float(chk[3])!r}"
        elif kind == "in_set":
            detail = "|".join(str(v) for v in chk[2])
        else:
            detail = ""
        rows["chk"].append(kind)
        rows["col_name"].append(col)
        rows["detail"].append(detail)
    return arrow_local_df(
        spark, rows, "chk string, col_name string, detail string"
    )


@register(
    "rolling_active_users",
    oracle="""
    WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
                                user_id
                FROM events),
    d AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS BIGINT) AS day,
           CAST(count(DISTINCT CASE WHEN u.day = d.day
                                    THEN u.user_id END) AS BIGINT) AS dau,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau_7d
    FROM d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling engagement: per day, the distinct users active
    THAT day (DAU) and in the trailing 7 days (WAU) — the liveness
    dashboard pair; exact, not sketched (the HLL twin is
    hll_distinct_users). Distinct-over-a-sliding-window does not
    partial-aggregate, so the plan pre-collapses the corpus to the
    (day, user) DISTINCT pairs FIRST — the only corpus-sized shuffle
    — then range-joins the day grid (a broadcast literal frame,
    days-sized) against those pairs: a bounded 7x blowup of the
    already-tiny pair table, one final groupBy on days. At 100 TB the
    pair table is |days| x |users-active-per-day|, orders below the
    event count."""
    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    du = (
        ev.select(events_ts_us(ev).alias("t"), "user_id")
        .select(F.expr("t div 86400000000").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    out = (
        F.broadcast(days)
        .join(
            du,
            (du["day"] >= days["d"] - 6) & (du["day"] <= days["d"]),
        )
        .groupBy("d")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).cast("bigint").alias("dau"),
            F.countDistinct("user_id").cast("bigint").alias("wau_7d"),
        )
    )
    return out.select(F.col("d").cast("bigint").alias("day"), "dau", "wau_7d")


@register(
    "event_type_lift",
    oracle="""
    WITH du AS (SELECT DISTINCT user_id, event_type FROM events
                WHERE user_id IS NOT NULL),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    t AS (SELECT event_type, count(*) AS n_t FROM du GROUP BY event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*) AS n_both
          FROM du a JOIN du b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type)
    SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
           round(p.n_both * 1.0 * n.n_users / (ta.n_t * tb.n_t), 6) AS lift
    FROM p, n
    JOIN t ta ON ta.event_type = p.type_a
    JOIN t tb ON tb.event_type = p.type_b
    """,
)
def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket LIFT between event types with users as baskets:
    for each unordered type pair, P(a,b) / (P(a) P(b)) over the user
    population — >1 = the behaviors attract, <1 = they repel; the
    cross-sell / feature-affinity primitive (pmi_collocations is the
    text-domain sibling; this is the behavioral one). Exact-integer
    counts, one IEEE division of exact integers, round 6.

    Scale: the corpus collapses to DISTINCT (user, type) pairs first
    (bounded by users x type-domain); the pair self-join is per-user
    and the type domain is small, so its volume is <= K^2 per user;
    type totals and the user count ride in as broadcast literals."""
    ev = _t(spark, sf_dir, "events")
    # NULL is not a user, anywhere in this query: dropped from the
    # basket table (else one giant pseudo-user inflates n_t) AND from
    # the population scalar (the oracle's count(DISTINCT) skips NULL)
    du = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    n_users = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )  # 1 scalar
    t = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = du.select("user_id", F.col("event_type").alias("type_a"))
    b = du.select(
        F.col("user_id").alias("_ub"), F.col("event_type").alias("type_b")
    )
    p = (
        a.join(
            b,
            (a["user_id"] == b["_ub"]) & (a["type_a"] < b["type_b"]),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ta = t.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("_na"))
    tb = t.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("_nb"))
    return (
        p.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") * F.lit(float(n_users))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "quality_quantile_norm_source",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, lower(trim(text)) AS low, {_TOK} AS t
                 FROM documents),
    m AS (SELECT doc_id, source,
                 len(list_filter(t, x -> list_contains({_SW_LIST}, x))) * 1.0 / len(t) AS sw,
                 len(list_distinct(t)) * 1.0 / len(t) AS uniq,
                 length(regexp_replace(low, '[^a-z ]', '', 'g')) * 1.0 / length(low) AS alpha,
                 len(t) AS n
          FROM tok),
    q AS (SELECT doc_id, source,
                 floor(((CASE WHEN sw > 0.01 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) * 0.3
                       + uniq * 0.3 + alpha * 0.2
                       + (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.5 END) * 0.2)
                       * 10000) / 10000 AS quality
          FROM m)
    SELECT doc_id, source, quality,
           round(percent_rank() OVER (PARTITION BY source
                                      ORDER BY quality, doc_id), 6) AS qnorm
    FROM q
    """,
)
def quality_quantile_norm_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE QUANTILE NORMALIZATION of the composite quality
    score: percent_rank within each source over a TOTAL order
    (quality, doc_id), so every source's scores map onto a uniform
    [0, 1] — the calibration step before cross-source mixing (a raw
    0.7 from a boilerplate-heavy crawl and a curated wiki are not
    comparable; their percentiles are). Deterministic: the tie-break
    on doc_id makes ranks total, and percent_rank = (rank-1)/(n-1) is
    one IEEE division of exact integers in both engines.

    Scale: one shuffle on source (low-cardinality but
    bounded-per-source sort; the same exchange quality_floor_source
    prices), pure map before it."""
    from pyspark.sql import Window

    from petastorm_spark.operators import text as T

    d = _t_wide(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        (F.floor(T.quality_score("text") * 10000) / 10000).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return scored.withColumn(
        "qnorm", F.round(F.percent_rank().over(w), 6)
    )


@register(
    "seasonal_decompose_daily",
    oracle="""
    WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                      CAST(round(value * 1000000) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
    d AS (SELECT day, sum(c) AS tc FROM e GROUP BY day),
    w AS (SELECT day, tc,
                 sum(tc) OVER win AS s7,
                 count(*) OVER win AS n7
          FROM d
          WINDOW win AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    t AS (SELECT day, tc, CASE WHEN n7 = 7 THEN s7 END AS s7c FROM w),
    s AS (SELECT day % 7 AS dow,
                 sum(7 * tc - s7c) AS sd, count(*) AS nd
          FROM t WHERE s7c IS NOT NULL GROUP BY day % 7)
    SELECT CAST(t.day AS BIGINT) AS day,
           round(t.tc / 1000000.0, 2) AS total,
           round(t.s7c / 7000000.0, 4) AS trend,
           round(s.sd / (7000000.0 * s.nd), 4) AS seasonal,
           round((7.0 * t.tc - t.s7c) / 7000000.0
                 - s.sd / (7000000.0 * s.nd), 4) AS residual
    FROM t JOIN s ON t.day % 7 = s.dow
    WHERE t.s7c IS NOT NULL
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical SEASONAL DECOMPOSITION of the daily value series:
    total = trend (centered 7-day moving average, full windows only)
    + seasonal (day-of-week mean of the detrended series) + residual
    — the weekly-pattern / anomaly-baseline primitive next to
    events_ewma and cusum_drift_users.

    Engine-exact by integer discipline: values micro-quantize to
    1e-6 ints (the covariance recipe), so the daily totals, the 7-day
    window sums, AND the day-of-week sums are exact integer
    arithmetic — 7*detrended = 7*total - window_sum stays integral —
    with ONE IEEE division per output column over identical integers,
    then round. Scale: one partial-agg groupBy collapses the corpus
    to the day table; every window/join after that runs on the
    days-sized series (the single-partition ordered window is bounded
    by the calendar, not the data)."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = (
        ev.where(F.col("value").isNotNull())
        .select(
            events_ts_us(ev).alias("t"),
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("c"),
        )
        .select(F.expr("t div 86400000000").alias("day"), "c")
    )
    d = e.groupBy("day").agg(F.sum("c").alias("tc"))
    win = Window.orderBy("day").rowsBetween(-3, 3)
    t = (
        d.withColumn("s7", F.sum("tc").over(win))
        .withColumn("n7", F.count(F.lit(1)).over(win))
        .withColumn("s7c", F.when(F.col("n7") == 7, F.col("s7")))
        .where(F.col("s7c").isNotNull())
    )
    s = (
        t.groupBy((F.col("day") % 7).alias("dow"))
        .agg(
            F.sum(F.lit(7) * F.col("tc") - F.col("s7c")).alias("sd"),
            F.count(F.lit(1)).alias("nd"),
        )
    )
    return (
        t.join(F.broadcast(s), (F.col("day") % 7) == F.col("dow"))
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.round(F.col("tc") / 1_000_000.0, 2).alias("total"),
            F.round(F.col("s7c") / 7_000_000.0, 4).alias("trend"),
            F.round(
                F.col("sd") / (F.lit(7_000_000.0) * F.col("nd")), 4
            ).alias("seasonal"),
            F.round(
                (F.lit(7.0) * F.col("tc") - F.col("s7c")) / 7_000_000.0
                - F.col("sd") / (F.lit(7_000_000.0) * F.col("nd")),
                4,
            ).alias("residual"),
        )
    )


@register(
    "survival_signup_purchase",
    oracle="""
    WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
               WHERE event_type = 'signup' AND user_id IS NOT NULL
               GROUP BY user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tp
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t0
          GROUP BY e.user_id),
    mx AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
    b AS (SELECT s.user_id,
                 (coalesce(p.tp, mx.tmax) - s.t0) // 86400000000 AS dur,
                 CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS obs
          FROM s LEFT JOIN p ON s.user_id = p.user_id, mx),
    g AS (SELECT dur, sum(obs) AS d_i, count(*) AS m_i FROM b GROUP BY dur),
    w AS (SELECT dur, d_i,
                 sum(m_i) OVER () - coalesce(
                     sum(m_i) OVER (ORDER BY dur
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS n_risk
          FROM g),
    k AS (SELECT dur, d_i, n_risk,
                 sum(CASE WHEN d_i < n_risk
                          THEN ln(1.0 - d_i * 1.0 / n_risk)
                          ELSE 0.0 END) OVER cum AS ls,
                 max(CASE WHEN d_i = n_risk THEN 1 ELSE 0 END)
                     OVER cum AS z
          FROM w WHERE d_i > 0
          WINDOW cum AS (ORDER BY dur ROWS UNBOUNDED PRECEDING))
    SELECT CAST(dur AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_i AS BIGINT) AS n_events,
           CASE WHEN z = 1 THEN 0.0 ELSE round(exp(ls), 6) END AS survival
    FROM k
    """,
)
def survival_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for signup -> first purchase: per
    event day, the at-risk count, conversion events, and the product-
    limit estimate S(t) = prod(1 - d_i/n_i) — time-to-conversion with
    RIGHT-CENSORING done properly (users who never purchase are
    censored at the observation end, which a naive conversion-rate
    cut silently miscounts). The survival-analysis staple next to
    retention_cohorts (fixed-window return rates) and
    funnel_signup_purchase (ordered-step counts).

    Engine-exact: d_i / n_i are exact integers; the product rides as
    exp(cumulative sum of ln(1 - d_i/n_i)) — identical doubles in,
    libm drift absorbed by round 6 (the unigram_logprob ln/pow
    precedent). Scale: two per-user partial-agg mins + one left join
    collapse the corpus to one row per signup user; everything after
    (day rollup, risk-set window, cumulative product) runs on the
    days-sized table (the ordered single-partition windows are
    calendar-bounded)."""
    from pyspark.sql import Window

    from petastorm_spark.session import events_ts_us

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", events_ts_us(ev).alias("t"))
    s = (
        # NULL is not a user: a NULL-user pseudo-cohort would sit in
        # every risk set and never convert
        e.where(
            (F.col("event_type") == "signup")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t0"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("t") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tp"))
    )
    tmax = e.agg(F.max("t")).first()[0]  # 1 scalar
    if tmax is None:  # empty/all-NULL-ts events: empty curve, not a
        # ParseException from f-stringing None into the plan
        return spark.createDataFrame(
            [], "day bigint, n_risk bigint, n_events bigint, survival double"
        )
    b = (
        s.join(p, "user_id", "left")
        .select(
            F.expr(
                f"(coalesce(tp, {tmax}L) - t0) div 86400000000"
            ).alias("dur"),
            F.col("tp").isNotNull().cast("bigint").alias("obs"),
        )
    )
    g = b.groupBy("dur").agg(
        F.sum("obs").alias("d_i"), F.count(F.lit(1)).alias("m_i")
    )
    whole = Window.partitionBy()
    before = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w = g.select(
        "dur",
        "d_i",
        (
            F.sum("m_i").over(whole)
            - F.coalesce(F.sum("m_i").over(before), F.lit(0))
        ).alias("n_risk"),
    )
    cum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = (
        w.where(F.col("d_i") > 0)
        .withColumn(
            "ls",
            F.sum(
                # the day the whole risk set converts contributes
                # ln(0): flag it instead (S drops to exactly 0)
                F.when(
                    F.col("d_i") < F.col("n_risk"),
                    F.log(F.lit(1.0) - F.col("d_i") / F.col("n_risk")),
                ).otherwise(F.lit(0.0))
            ).over(cum),
        )
        .withColumn(
            "z",
            F.max(
                (F.col("d_i") == F.col("n_risk")).cast("int")
            ).over(cum),
        )
    )
    return k.select(
        F.col("dur").cast("bigint").alias("day"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_i").cast("bigint").alias("n_events"),
        F.when(F.col("z") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("ls"), 6))
        .alias("survival"),
    )


@register(
    "activity_gini_by_type",
    oracle="""
    WITH c AS (SELECT event_type, user_id, count(*) AS x
               FROM events GROUP BY event_type, user_id),
    r AS (SELECT event_type, x,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY x, user_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n,
                 sum(x) OVER (PARTITION BY event_type) AS tot
          FROM c)
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
           CAST(max(tot) AS BIGINT) AS n_events,
           round(sum((2 * rk - n - 1) * x) * 1.0
                 / (max(n) * 1.0 * max(tot)), 6) AS gini
    FROM r GROUP BY event_type
    """,
)
def activity_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of per-user activity, per event type — the
    concentration report a data-mixing pipeline reads before trusting
    per-source/per-user counts (gini ~0 = activity spread evenly,
    ~1 = a few power users dominate; the inequality sibling of
    skew_report_sources' raw top-k shares). Exact: integer counts,
    the mean-difference identity sum((2 r_i - n - 1) x_i) / (n sum x)
    over a TOTAL (count, user_id) rank — every term is exact integer
    arithmetic, one IEEE division, round 6.

    Scale: one partial-agg groupBy collapses events to (type, user)
    counts; the rank window partitions by type over that bounded
    table (users x types), never the event count."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    wp = Window.partitionBy("event_type")
    r = (
        # rk widened to bigint (row_number is int32: 2*rk would wrap
        # past ~1e9 users/type); the term sum rides as decimal(38,0)
        # because sum((2rk-n-1)*x) exceeds int64 at the billion-user
        # scale this table is bounded by (DuckDB promotes to HUGEINT)
        c.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("tot", F.sum("x").over(wp))
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.max("tot").cast("bigint").alias("n_events"),
        F.round(
            F.sum(
                (
                    (F.lit(2) * F.col("rk") - F.col("n") - F.lit(1))
                    * F.col("x")
                ).cast("decimal(38,0)")
            ).cast("double")
            / (F.max("n").cast("double") * F.max("tot")),
            6,
        ).alias("gini"),
    )


@register(
    "vocab_overlap_sources",
    oracle=f"""
    WITH du AS (SELECT DISTINCT source, unnest({_TOK}) AS tok
                FROM documents),
    sz AS (SELECT source, count(*) AS v FROM du GROUP BY source),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
          FROM du a JOIN du b
            ON a.tok = b.tok AND a.source < b.source
          GROUP BY a.source, b.source)
    SELECT p.source_a, p.source_b,
           CAST(p.n_shared AS BIGINT) AS n_shared,
           round(p.n_shared * 1.0 / (sa.v + sb.v - p.n_shared), 6)
               AS jaccard
    FROM p JOIN sz sa ON sa.source = p.source_a
           JOIN sz sb ON sb.source = p.source_b
    """,
)
def vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source VOCABULARY overlap matrix: per source pair, the
    shared distinct-token count and vocabulary Jaccard — the
    source-redundancy signal a mixing pipeline reads BEFORE paying
    for document-level dedup (dedup_source_matrix counts duplicate
    DOCS across sources; this measures whether two sources even speak
    the same vocabulary — near-1 pairs are re-crawls or mirrors,
    near-0 pairs genuinely diversify the mix). Tokenization matches
    the corpus-wide parity contract (split lower trim whitespace).

    Scale: ONE token explode collapses to the DISTINCT (source,
    token) table — vocabulary-bounded, orders below the token count —
    and the pair intersection is a self-equi-join on token whose
    volume is sum over tokens of (sources-containing-it choose 2),
    bounded by the SOURCE domain squared per token, never documents.
    Vocab sizes broadcast into the final join; exact integer counts,
    one IEEE division, round 6."""
    d = _t_wide(spark, sf_dir, "documents")
    du = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .distinct()
    )
    sz = du.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = du.select(F.col("source").alias("source_a"), "tok")
    b = du.select(F.col("source").alias("source_b"), "tok")
    p = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("v").alias("_va"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("v").alias("_vb"))
    return (
        p.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("_va") + F.col("_vb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
