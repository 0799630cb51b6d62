"""Multimodal (image/audio/video) perceptual near-dup family.

Split out of ``registry/docs.py`` (r12 — the module size budget): the
three modality near-dup queries over REAL pure-stdlib codec round-trips
(PNG/WAV/MKV, ``functions/codecs.py``), their shared fingerprint
kernels, and the incremental tenth-maintained-family query served by
``operators/media_index.py``. Helper namespace is module-private (the
r3 oracle-collision rule).

Cross-engine determinism rules are inherited from the registry header —
see ``__spark_entry__.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.lits import local_df
from affinity_spark.registry._shared import _t


def _image_fp_of(did: int) -> int:
    """63-bit dHash of doc ``did``'s synthetic PNG through the REAL
    codec round-trip (the docs_image_near_dup kernel, shared with the
    maintained MediaIndex admits so batch and corpus fingerprints can
    never drift)."""
    from affinity_spark.functions.codecs import (
        decode_png,
        dhash_bits,
        encode_png_gray,
    )

    g, m = did // 3, did % 3
    px = bytearray(
        ((((g * 2654435761) ^ ((p + 1) * 2654445111))
          % 2147483648) * 2654435761 >> 13) % 256
        for p in range(72)
    )
    pos = (m * 29 + g) % 72
    px[pos] = (px[pos] + 1 + m * 31) % 256
    img = decode_png(encode_png_gray(9, 8, bytes(px)))
    return dhash_bits(img.pixels, img.width, img.height)


def _audio_fp_of(did: int) -> int:
    """63 energy-rise bits of doc ``did``'s synthetic WAV through the
    REAL RIFF/PCM codec round-trip (the docs_audio_near_dup kernel)."""
    from affinity_spark.functions.codecs import decode_wav, encode_wav_pcm16

    g, m = did // 3, did % 3
    pos_w = (g + m * 17) % 63
    pert = (1 + m) * 9
    samples = [
        ((((g * 2654435761) ^ ((i + 1) * 2246822519))
          % 2147483648) * 2654435761 >> 13) % 2048 - 1024
        + (pert if i // 4 == pos_w else 0)
        for i in range(256)
    ]
    wav = decode_wav(encode_wav_pcm16(8000, 1, samples))
    e = [
        sum(abs(s) for s in wav.samples[w * 4 : (w + 1) * 4])
        for w in range(64)
    ]
    h = 0
    for w in range(63):
        if e[w + 1] > e[w]:
            h |= 1 << w
    return h


def _video_fp_of(did: int) -> int:
    """63 temporal rise bits over frame-sampled signatures of doc
    ``did``'s synthetic MKV through the REAL EBML codec round-trip (the
    docs_video_near_dup kernel)."""
    from affinity_spark.functions.codecs import decode_mkv, encode_mkv

    g, m = did // 3, did % 3
    pos_w = (g * 7 + m * 13) % 63
    frames = []
    for f in range(128):
        px = [
            ((((g * 2654435761) ^ ((f * 4 + p + 1) * 3266489917))
              % 2147483648) * 2654435761 >> 13) % 256
            for p in range(4)
        ]
        if f % 2 == 0 and f // 2 == pos_w:
            px = [(v + (1 + m) * 5) % 256 for v in px]
        frames.append((f, f == 0, bytes(px)))
    vid = decode_mkv(encode_mkv(2, 2, frames))
    sampled = [vid.frames[2 * w].data for w in range(64)]
    sig = [sum(fr) for fr in sampled]
    h = 0
    for w in range(63):
        if sig[w + 1] > sig[w]:
            h |= 1 << w
    return h


def _media_fp_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, modality, fp) for all three modalities in ONE
    Arrow-batched decode pass over ``docs`` — the MediaIndex admit
    kernel: decode cost is paid per BATCH at ingest, never re-paid over
    the corpus at query time."""
    from collections.abc import Iterator

    import pandas as pd

    schema = "doc_id long, modality string, fp long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((did, "image", _image_fp_of(did)))
                rows.append((did, "audio", _audio_fp_of(did)))
                rows.append((did, "video", _video_fp_of(did)))
            yield pd.DataFrame(rows, columns=["doc_id", "modality", "fp"])

    return docs.select(F.col("doc_id").cast("long")).mapInPandas(run, schema)


def docs_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup pairs via perceptual hashing — the multimodal dedup
    modality (corpora dedup images too; r10 verdict #6): every doc row
    becomes a genuine 9x8 grayscale PNG (encode_png_gray; pixel content a
    deterministic function of doc_id with triplet near-dup groups — one
    perturbed pixel per group member), the REAL pure-python PNG decoder
    recovers the pixels executor-side inside Arrow-batched mapInPandas,
    dHash (63-bit horizontal-gradient fingerprint, codecs.dhash_bits)
    fingerprints each image, and pairs within hamming<=3 come from the
    PIGEONHOLE bucket join (operators/dedup.py::hamming_near_pairs — 4
    disjoint 16-bit chunks, any pair in radius agrees on one; NEVER
    all-pairs). The oracle replays the pixel formula + dHash + EXHAUSTIVE
    hamming join in closed form, so a codec, hash, or bucketing bug that
    drops a true pair hash-fails (false-negative detection)."""
    from collections.abc import Iterator

    import pandas as pd

    from affinity_spark.operators.dedup import hamming_near_pairs

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    schema = "doc_id long, dhash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "dhash": [_image_fp_of(d) for d in ids]}
            )

    fps = docs.mapInPandas(run, schema)
    return hamming_near_pairs(
        fps, "doc_id", "dhash", bits=63, max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _image_near_dup_oracle_sql() -> str:
    """Closed-form replay: the pixel mix, the single-pixel perturbation,
    the 63-bit dHash, and the EXHAUSTIVE hamming join (a Spark bucketing
    bug that drops a true pair hash-fails)."""

    def px(p: int) -> str:
        return (
            f"(CASE WHEN pos = {p} THEN pval ELSE "
            f"((xor(g * 2654435761, {(p + 1) * 2654445111}) % 2147483648)"
            f" * 2654435761 >> 13) % 256 END)"
        )

    bits = "\n         + ".join(
        f"(CASE WHEN {px(r * 9 + c + 1)} > {px(r * 9 + c)} "
        f"THEN (1::BIGINT << {r * 8 + c}) ELSE 0 END)"
        for r in range(8)
        for c in range(8)
        if r * 8 + c < 63
    )
    return f"""
WITH p0 AS (
  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS m FROM documents
),
p1 AS (
  SELECT doc_id, g, m, ((m * 29 + g) % 72) AS pos FROM p0
),
pp AS (
  SELECT doc_id, g, pos,
         (((xor(g * 2654435761, (pos + 1) * 2654445111) % 2147483648)
           * 2654435761 >> 13) % 256 + 1 + m * 31) % 256 AS pval
  FROM p1
),
fp AS (SELECT doc_id, CAST({bits} AS BIGINT) AS dhash FROM pp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


def docs_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup pairs via acoustic fingerprinting — the audio
    modality of the perceptual-dedup family (docs_image_near_dup's
    machinery over the WAV codec): every doc row becomes a genuine
    256-sample 16-bit PCM WAV (encode_wav_pcm16; content a deterministic
    function of doc_id with triplet near-dup groups — one energy-bumped
    window per member), the REAL RIFF/PCM decoder recovers the samples
    executor-side, and the fingerprint is the chromaprint SHAPE on
    integer energies: 64 windows of 4 samples, one bit per adjacent
    window pair set when energy rises (63 bits — non-negative int64 in
    every engine). Pairs within hamming<=3 come from the generalized
    pigeonhole bucket join (never all-pairs). The oracle replays samples,
    window energies (lead() over window index), fingerprint, and the
    EXHAUSTIVE hamming join — codec, energy, or bucketing bugs that drop
    a true pair hash-fail."""
    from collections.abc import Iterator

    import pandas as pd

    from affinity_spark.operators.dedup import hamming_near_pairs

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    schema = "doc_id long, afp long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "afp": [_audio_fp_of(d) for d in ids]}
            )

    fps = docs.mapInPandas(run, schema)
    return hamming_near_pairs(
        fps, "doc_id", "afp", bits=63, max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_AUDIO_NEAR_DUP_SQL = """
WITH d AS (
  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS m FROM documents
),
s AS (
  SELECT doc_id, i // 4 AS wi,
         (((xor(g * 2654435761, (i + 1) * 2246822519))
           % 2147483648) * 2654435761 >> 13) % 2048 - 1024
         + (CASE WHEN i // 4 = (g + m * 17) % 63 THEN (1 + m) * 9 ELSE 0 END)
           AS samp
  FROM d, unnest(range(0, 256)) AS r(i)
),
e AS (
  SELECT doc_id, wi, CAST(sum(abs(samp)) AS BIGINT) AS energy
  FROM s GROUP BY doc_id, wi
),
bits AS (
  SELECT doc_id, wi, energy,
         lead(energy) OVER (PARTITION BY doc_id ORDER BY wi) AS nxt
  FROM e
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN nxt > energy THEN (1::BIGINT << wi) ELSE 0 END)
              AS BIGINT) AS afp
  FROM bits WHERE wi < 63
  GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
"""


def docs_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup pairs via frame sampling + temporal fingerprinting —
    the third perceptual-dedup modality (image dHash, audio energy bits,
    now video): every doc row becomes a genuine 128-frame 2x2
    V_UNCOMPRESSED Matroska file (encode_mkv — EBML header, track entry,
    SimpleBlock cluster per RFC 8794; frame pixels a deterministic
    function of doc_id with triplet near-dup groups), the REAL MKV
    decoder walks it back executor-side, every SECOND frame is sampled
    (the frame-sample op on real container data), each sampled frame
    reduces to an integer pixel-sum signature, and the temporal
    fingerprint is 63 rise/fall bits over the 64 sampled signatures.
    Pairs within hamming<=3 ride the same generalized pigeonhole join as
    image/audio — one pair machinery, three modalities. Oracle: frames,
    sampled signatures (lead() over sample index), fingerprint, and the
    EXHAUSTIVE hamming join in closed form."""
    from collections.abc import Iterator

    import pandas as pd

    from affinity_spark.operators.dedup import hamming_near_pairs

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long"))
    schema = "doc_id long, vfp long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "vfp": [_video_fp_of(d) for d in ids]}
            )

    fps = docs.mapInPandas(run, schema)
    return hamming_near_pairs(
        fps, "doc_id", "vfp", bits=63, max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_VIDEO_NEAR_DUP_SQL = """
WITH d AS (
  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS m FROM documents
),
s AS (
  SELECT doc_id, w,
         CAST(sum(
           ((((xor(g * 2654435761, (2 * w * 4 + p + 1) * 3266489917))
              % 2147483648) * 2654435761 >> 13) % 256
            + CASE WHEN w = (g * 7 + m * 13) % 63 THEN (1 + m) * 5 ELSE 0 END)
           % 256
         ) AS BIGINT) AS sig
  FROM d, unnest(range(0, 64)) AS rw(w), unnest(range(0, 4)) AS rp(p)
  GROUP BY doc_id, w
),
bits AS (
  SELECT doc_id, w, sig,
         lead(sig) OVER (PARTITION BY doc_id ORDER BY w) AS nxt
  FROM s
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN nxt > sig THEN (1::BIGINT << w) ELSE 0 END)
              AS BIGINT) AS vfp
  FROM bits WHERE w < 63
  GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.vfp, b.vfp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.vfp, b.vfp)) <= 3
"""


#: app-scoped incremental media-dedup state (MediaIndex + discovered-pairs
#: KeyedTable in a tempdir; fingerprint-keyed, rmtree on eviction — the
#: _CLUSTER_STATE contract).
_MEDIA_STATE: dict = {}


def docs_media_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL multimodal near-dup — the TENTH maintained family
    (operators/media_index.py) driven end to end: documents arrive in
    four id-ordered batches; each batch is decoded and fingerprinted
    ONCE (all three modalities — real PNG/WAV/MKV codec round-trips —
    in one Arrow pass over the BATCH, the corpus is never re-decoded),
    its (new x committed) partners come from the MediaIndex pigeonhole
    ``probe`` (batch chunks broadcast, corpus never shuffled), its
    (new x new) pairs from the same chunk machinery on the batch frame,
    and the batch's fingerprints are admitted with a partition-pruned
    bucket merge. Ids ascend across batches, so every same-modality pair
    (a, b) is discovered exactly once — when b's batch arrives — and the
    union over batches equals the one-shot pairs over the full corpus,
    which the oracle replays closed-form (the three modality fingerprint
    chains + EXHAUSTIVE hamming joins: a decode, fingerprint, probe, or
    bucketing bug that drops a true pair hash-fails). Output:
    (modality, id_a, id_b, hamming)."""
    import shutil

    from pyspark.sql import Window

    from affinity_spark.cache import temp_root
    from affinity_spark.operators.media_index import (
        MediaIndex,
        hamming_pairs_multimodal,
    )
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.sources.keyed_table import KeyedTable

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    key = (spark.sparkContext.applicationId, f"media:{sf_dir}")
    cfp = _corpus_fingerprint(docs)
    cached = _MEDIA_STATE.get(key)
    if cached is None or cached[0] != cfp or not cached[2].exists():
        if cached is not None:
            shutil.rmtree(cached[1], ignore_errors=True)
        base = temp_root("affinity_media_")
        idx = MediaIndex(spark, os.path.join(base, "ix"))
        pairs_tbl = KeyedTable(
            spark, os.path.join(base, "pairs"),
            ["modality", "id_a", "id_b"], ts_col="hamming",
        )
        batched = docs.withColumn(
            "_b", F.ntile(4).over(Window.orderBy("doc_id"))
        ).persist()
        found: list[tuple] = []
        for i in range(1, 5):
            fps = _media_fp_frame(
                batched.filter(F.col("_b") == i).drop("_b")
            ).persist()
            batch_pairs = hamming_pairs_multimodal(fps, "doc_id", 63, 3)
            if idx.exists():
                cross = idx.probe(fps).select(
                    "modality",
                    F.col("dup_of").alias("id_a"),
                    F.col("new_id").alias("id_b"),
                    "hamming",
                )
                batch_pairs = batch_pairs.unionByName(cross)
            # discovered pairs are result-sized (true near-dups only);
            # a deployment sinks them to a table per batch — here the
            # same table is committed once after the replay
            found.extend(
                (r["modality"], int(r["id_a"]), int(r["id_b"]), int(r["hamming"]))
                for r in batch_pairs.collect()
            )
            if idx.exists():
                idx.admit(fps)
            else:
                idx.build(fps)
            fps.unpersist()
        batched.unpersist()
        pairs_tbl.overwrite(
            local_df(
                spark, found, "modality string, id_a long, id_b long, hamming int"
            )
        )
        _MEDIA_STATE[key] = (cfp, base, pairs_tbl)
    return _MEDIA_STATE[key][2].read().select(
        "modality", "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _media_incremental_oracle_sql() -> str:
    """The three modality chains, each nested verbatim (DuckDB supports
    WITH inside derived tables) and modality-tagged — incremental
    discovery must equal the one-shot exhaustive pairs per modality."""
    return f"""
SELECT 'image' AS modality, id_a, id_b, hamming FROM ({_image_near_dup_oracle_sql()}) i
UNION ALL
SELECT 'audio' AS modality, id_a, id_b, hamming FROM ({_AUDIO_NEAR_DUP_SQL}) a
UNION ALL
SELECT 'video' AS modality, id_a, id_b, hamming FROM ({_VIDEO_NEAR_DUP_SQL}) v
"""
