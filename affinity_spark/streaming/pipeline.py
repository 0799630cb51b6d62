"""The composed streaming corpus-ingest pipeline, end to end in ONE
streaming query:

    readStream → quality gate → stateful exact dedup → online LSH near-dup
    → (sink boundary) per-doc verdict collapse → split → keyed sinks

This is the streaming twin of ``registry/pipelines.py::
pipeline_clean_corpus`` (same quality rule, same exact-dedup rule, same
shingle/band/Jaccard parameters), so the final sink state is
batch-replayable and driver-checkable.

Reference parity: the ingest spine is S4 (stream ingest with commit
intervals, ``core/src/main/scala/io/amient/affinity/core/storage/
Storage.scala`` write path) composed with X4 change-listener maintenance
(``core/src/main/scala/io/amient/affinity/core/state/
KVStoreLocal.scala:195-248``); the LLM-pipeline stages compose on Spark
exactly the way the reference chains ingest → state → derived index.

Stage placement under Spark's structured-streaming constraints:

- quality gate: stateless codegen'd expressions (token_count ≥ k);
- exact dedup: ``dropDuplicates`` on the content fingerprint — streaming
  state keyed by fp, keeps the FIRST ARRIVAL corpus-wide. This stateful op
  composes BEFORE ``applyInPandasWithState`` (probed and pinned by the
  equivalence test); the forbidden direction is stateful-AFTER-pandas-state
  (ColumnarBatchRow → UnsafeRow, see CLAUDE.md), which is why the per-doc
  any-band-matched collapse lives behind the foreachBatch sink boundary;
- near-dup: per-LSH-bucket ``applyInPandasWithState`` emitting a VERDICT
  row per (arriving doc × band) — ``dup_of`` NULL when that bucket holds
  no near-match. Verdict rows (16 small rows/doc) ride to the sink, where
  one groupBy collapses them: a doc survives iff every band said NULL;
- split + sinks: survivors get the ``train_split`` md5-bucket label
  (stateless) and are UPSERTED into a KeyedTable keyed by doc_id —
  idempotent under micro-batch replay by construction (the replayed
  upsert rewrites the same rows), so no batch-id marker is needed;
  rejected docs land in a second KeyedTable with their dup reason.

Arrival-order contract (what makes the batch twin exact): the feed is
id-ordered across micro-batches and carries at most one new doc per
fingerprint per batch — within one batch ``dropDuplicates`` keeps an
engine-chosen row, so same-fp same-batch collisions are the one feed shape
whose survivor id the twin cannot predict (compact such batches first,
the ``compact_latest`` contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from affinity_spark.functions.lits import local_df
from affinity_spark.functions.text import doc_fingerprint, token_count
from affinity_spark.operators.dedup import (
    lsh_bands_mapside,
    lsh_candidate_pairs,
    word_ngrams,
)

_VERDICT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("dup_of", LongType()),  # NULL = this band saw no match
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("shingle_sets", ArrayType(ArrayType(StringType()))),
    ]
)


def quality_exact_stream(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
) -> DataFrame:
    """The pipeline's stateless-quality + stateful-exact-dedup prefix:
    token gate, then corpus-wide first-arrival dropDuplicates on the
    content fingerprint. Shared by the in-state LSH pipeline
    (:func:`streaming_corpus_verdicts`) and the maintained-index sink
    (:func:`indexed_corpus_sink`)."""
    scored = docs_stream.select(
        F.col(id_col),
        F.col(text_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= min_tokens)
    return (
        scored.withColumn("_fp", doc_fingerprint(F.col(text_col)))
        .dropDuplicates(["_fp"])
        .drop("_fp")
    )


def streaming_corpus_verdicts(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    min_tokens: int = 10,
    max_bucket_members: int = 1024,
) -> DataFrame:
    """quality → exact-dedup → per-band near-dup verdicts, one query.

    Emits one row per (exact-surviving arriving doc × band):
    (doc_id, n_tokens, dup_of) with dup_of = the earliest-seen bucket
    member whose exact Jaccard clears t_num/t_den, else NULL. The caller
    collapses bands per doc behind a sink boundary."""
    exact = quality_exact_stream(
        docs_stream, id_col=id_col, text_col=text_col, min_tokens=min_tokens
    )
    # doc_shingle_arrays drops payload columns; derive inline keeping
    # n_tokens so the verdict rows carry it to the sink
    arr = word_ngrams(text_col, n)
    arrs = exact.select(
        F.col(id_col),
        arr.alias("shingles"),
        F.size(arr).alias("n_shingles"),
        F.col("n_tokens"),
    )
    with_bands = lsh_bands_mapside(arrs, id_col, keep_cols=("shingles", "n_tokens"))

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ids, sets = state.get
            ids = list(ids)
            sets = [set(s) for s in sets]
        else:
            ids, sets = [], []
        rows = []
        for pdf in pdfs:
            for did, ntok, sh in zip(pdf[id_col], pdf["n_tokens"], pdf["shingles"]):
                rows.append((int(did), int(ntok), set(sh)))
        rows.sort(key=lambda r: r[0])  # arrival order within the batch
        out_id, out_tok, out_dup = [], [], []
        for did, ntok, sh in rows:
            if did in ids:
                continue  # replayed doc: no self-match, no duplicate state
            match = None
            for prev_id, prev_sh in zip(ids, sets):
                inter = len(sh & prev_sh)
                union = len(sh) + len(prev_sh) - inter
                if union and t_den * inter >= t_num * union:
                    match = prev_id
                    break  # earliest-seen member wins (ids are in order)
            out_id.append(did)
            out_tok.append(ntok)
            out_dup.append(match)
            if len(ids) < max_bucket_members:
                ids.append(did)
                sets.append(sh)
        state.update((ids, [sorted(s) for s in sets]))
        if out_id:
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "n_tokens": out_tok,
                    "dup_of": pd.array(out_dup, dtype="Int64"),
                }
            )

    return with_bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        update,
        outputStructType=_VERDICT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def corpus_sink(survivors_table, rejected_table):
    """foreachBatch collapse + split + idempotent keyed writes.

    Per batch: one groupBy(doc_id) collapses the band verdicts (a doc is
    near-dup iff ANY band matched; the reported dup_of is the smallest),
    survivors get the md5-bucket train/val/test label (the train_split
    rule), and both outcomes UPSERT into KeyedTables keyed by doc_id —
    a replayed batch rewrites the same rows, so the sink is idempotent
    without a batch-id marker."""
    from affinity_spark.operators.sampling import train_split

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        collapsed = batch_df.groupBy("doc_id").agg(
            F.first("n_tokens").alias("n_tokens"),
            F.min("dup_of").alias("dup_of"),
        )
        survivors = collapsed.filter(F.col("dup_of").isNull()).drop("dup_of")
        rejected = collapsed.filter(F.col("dup_of").isNotNull()).select(
            "doc_id", "dup_of"
        )
        if not survivors.isEmpty():
            survivors_table.upsert(train_split(survivors, "doc_id"))
        if not rejected.isEmpty():
            rejected_table.upsert(rejected)

    return apply


def indexed_corpus_sink(
    band_index,
    corpus_store,
    survivors_table,
    rejected_table,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
):
    """foreachBatch near-dup stage served from the maintained BandIndex
    instead of streaming band state — the X1 maintained-index treatment
    (``operators/bandindex.py``) composed into the ingest pipeline.

    Why this variant exists next to :func:`corpus_sink`'s in-state bands:
    the band/shingle corpus memory lives in COMMITTED KeyedTables, so it
    (a) survives a checkpoint reset — a fresh checkpoint replays the
    source, but near-dup history is index truth, not state-store truth;
    (b) is queryable at rest (the index doubles as the batch
    ``incremental_lsh_pairs`` corpus side); and (c) has no
    ``max_bucket_members`` cap — the cap exists to bound state-store
    memory, which a table doesn't need. Equivalence with the in-state
    pipeline on cap-free feeds is pinned by
    tests/test_streaming_pipeline.py.

    Batch protocol (receives the quality-gated, exact-deduped stream):
    1. already-admitted ids are dropped (left_anti vs the corpus store) —
       the replay-idempotence twin of the in-state ``did in ids`` skip;
    2. candidates = maintained-index probe (prior corpus, batch bands
       broadcast, index never shuffled) ∪ within-batch shared-bucket
       pairs (``lsh_candidate_pairs``; earlier id wins, the in-batch
       arrival-order contract);
    3. exact integer Jaccard >= t_num/t_den verifies candidates against
       the corpus store's shingle arrays (word_ngrams arrays are
       distinct, so array Jaccard == the stream state's set Jaccard);
    4. verdicts upsert into the same survivors/rejected tables as
       :func:`corpus_sink`; ALL fresh docs (survivors AND near-dups) are
       admitted to the index + store — matching the in-state contract
       where every processed doc joins its buckets' membership.
    """
    from affinity_spark.operators.sampling import train_split

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        arr0 = word_ngrams(text_col, n)
        arr = batch_df.select(
            F.col(id_col),
            arr0.alias("shingles"),
            F.size(arr0).alias("n_shingles"),
            F.col("n_tokens"),
        )
        if corpus_store.exists():
            arr = arr.join(
                F.broadcast(corpus_store.read().select(id_col)),
                id_col,
                "left_anti",
            )
        # the batch frame feeds banding (twice: probe + intra), the verify
        # joins (both sides), the verdict join, and the admits — persist
        # the expensive gram derivation once (the r5 multi-branch rule)
        arr = arr.persist()
        if arr.isEmpty():
            arr.unpersist()
            return

        intra = lsh_candidate_pairs(lsh_bands_mapside(arr, id_col), id_col).select(
            F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of")
        )
        cand = intra
        have_corpus = band_index.exists() and corpus_store.exists()
        if have_corpus:
            # dup_of < new_id: the id-ordered arrival contract (earlier
            # docs are the corpus). Also covers the crash window between
            # index admit and store upsert — a replayed doc whose own (or
            # whose same-batch successors') bands already sit in the
            # index must not match itself or them backwards.
            cand = (
                band_index.probe(arr)
                .filter(F.col("dup_of") < F.col("new_id"))
                .unionByName(intra)
            )
        cand = cand.distinct()

        ref = arr.select(id_col, "shingles", "n_shingles")
        if have_corpus:
            ref = corpus_store.read().select(
                id_col, "shingles", "n_shingles"
            ).unionByName(ref)
        a = arr.select(
            F.col(id_col).alias("new_id"),
            F.col("shingles").alias("sh_a"),
            F.col("n_shingles").alias("n_a"),
        )
        b = ref.select(
            F.col(id_col).alias("dup_of"),
            F.col("shingles").alias("sh_b"),
            F.col("n_shingles").alias("n_b"),
        )
        matches = (
            cand.join(a, "new_id")
            .join(b, "dup_of")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "n_union", F.col("n_a") + F.col("n_b") - F.col("n_common")
            )
            .filter(
                (F.col("n_union") > 0)
                & (
                    F.lit(t_den) * F.col("n_common")
                    >= F.lit(t_num) * F.col("n_union")
                )
            )
            .groupBy("new_id")
            .agg(F.min("dup_of").alias("dup_of"))
            .withColumnRenamed("new_id", id_col)
        )
        verdicts = arr.select(id_col, "n_tokens").join(matches, id_col, "left")
        survivors = verdicts.filter(F.col("dup_of").isNull()).drop("dup_of")
        rejected = verdicts.filter(F.col("dup_of").isNotNull()).select(
            id_col, "dup_of"
        )
        if not survivors.isEmpty():
            survivors_table.upsert(train_split(survivors, id_col))
        if not rejected.isEmpty():
            rejected_table.upsert(rejected)
        # corpus admission LAST: a crash mid-batch leaves the doc
        # unadmitted and the replay re-processes it whole (idempotent);
        # admitted-before-verdict would make the replay skip its verdict
        admit_arr = arr.select(id_col, "shingles", "n_shingles")
        if band_index.exists():
            band_index.admit(admit_arr)
        else:
            band_index.build(admit_arr)
        corpus_store.upsert(admit_arr)
        arr.unpersist()

    return apply


def store_served_corpus_sink(
    quality_store,
    band_index,
    corpus_store,
    survivors_table,
    rejected_table,
    run_id: str,
    min_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
):
    """The whole ingest pipeline served from maintained tables — ZERO
    streaming state stores: the QualityStore replaces both the stateless
    quality gate (committed gopher signals) and the exact-dedup state
    (committed fp-canonicality), the BandIndex replaces the LSH bucket
    state. Consumes the RAW stream (id, text, lang) directly in
    foreachBatch:

    1. ``quality_store.admit(batch, fence=run_id:batch_id)`` — per-doc
       signals committed first (the replay fence makes the additive
       histogram safe; signal rows themselves are idempotent by keyed
       replacement, so a post-reset replay under a NEW run id nets zero);
    2. gate + exact dedup read the store back: keep docs with
       ``n_words >= min_tokens AND is_canonical``. Canonicality is min-id
       per fingerprint — identical to first-arrival under the pipeline's
       arrival-order contract (ids ascend across batches), and CORPUS-WIDE
       with no state store: it survives a checkpoint reset because it is
       table truth, not state truth. The contract is ENFORCED, not just
       documented: a smaller-id exact dup of an already-admitted fp is
       rejected as a dup of the committed canonical doc and never
       admitted (it would otherwise flip the committed doc's canonicality
       while that doc stays in the survivors table — r10 ADVICE);
    3. near-dup verdicts + admits via :func:`indexed_corpus_sink`'s
       protocol against the maintained BandIndex.

    Composition note: admit-before-read is deliberate — the batch's own
    fingerprints join the committed corpus memory BEFORE the gate reads
    canonicality, so within-batch exact dups resolve identically to the
    cross-batch case (min id wins) with no special casing."""
    inner = indexed_corpus_sink(
        band_index, corpus_store, survivors_table, rejected_table,
        id_col, text_col, n, t_num, t_den,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if quality_store.exists():
            # enforce the ascending-id arrival contract instead of merely
            # documenting it: a smaller-id exact dup arriving AFTER its fp
            # was admitted would flip the committed doc's is_canonical
            # while that doc stays in the survivors table — store truth
            # and survivors would silently diverge (r10 ADVICE). Violators
            # are rejected as exact dups of the committed canonical doc
            # and excluded from admission. Replays are unaffected: a
            # replayed row's id EQUALS its committed id, never undercuts.
            from affinity_spark.functions.text import doc_fingerprint

            with_fp = batch_df.withColumn(
                "_fp", doc_fingerprint(F.col(text_col))
            )
            batch_fps = with_fp.select(F.col("_fp").alias("fp")).distinct()
            committed_min = (
                quality_store.signals()
                .join(F.broadcast(batch_fps), "fp")
                .groupBy("fp")
                .agg(F.min("doc_id").alias("_committed_min"))
                .withColumnRenamed("fp", "_fp")
            )
            flagged = with_fp.join(F.broadcast(committed_min), "_fp")
            violators = flagged.filter(
                F.col(id_col) < F.col("_committed_min")
            )
            if not violators.isEmpty():
                rejected_table.upsert(
                    violators.select(
                        id_col, F.col("_committed_min").alias("dup_of")
                    )
                )
                batch_df = batch_df.join(
                    F.broadcast(violators.select(id_col)), id_col, "left_anti"
                )
                if batch_df.isEmpty():
                    return
        quality_store.admit(batch_df, fence=f"{run_id}:{batch_id}")
        ids = batch_df.select(id_col).distinct()
        keep = (
            quality_store.signals()
            .join(F.broadcast(ids), id_col)
            .filter(
                (F.col("n_words") >= min_tokens) & F.col("is_canonical")
            )
            .select(id_col, F.col("n_words").alias("n_tokens"))
        )
        gated = batch_df.select(id_col, text_col).join(
            F.broadcast(keep), id_col
        )
        inner(gated, batch_id)

    return apply


def retract_docs(
    band_index,
    corpus_store,
    survivors_table,
    rejected_table,
    doc_ids,
    id_col: str = "doc_id",
) -> None:
    """Takedown/right-to-be-forgotten for the indexed pipeline: remove
    documents from EVERY maintained surface — band index (their buckets
    stop matching future arrivals), shingle store (no future verify can
    read their content), and both verdict tables. The in-state pipeline
    cannot do this (streaming state is append-only from outside the
    query); committed tables can, which is the fourth reason the indexed
    variant exists.

    Historical ``dup_of`` attributions pointing AT a retracted doc are
    kept (they are verdicts about the rejected doc, not retained content
    of the retracted one); future near-dups match the earliest REMAINING
    bucket member. Index removal is the partition-pruned delete path
    (``BandIndex.admit`` with only ``deleted_ids`` rewrites just the
    touched doc buckets); the verdict tables are small filtered
    overwrites under the same CAS contract as every other commit."""
    ids = [int(d) for d in doc_ids]
    if not ids:
        return
    spark = corpus_store.spark
    empty = local_df(
        spark, [], "doc_id long, shingles array<string>, n_shingles int"
    ).withColumnRenamed("doc_id", id_col)
    if band_index.exists():
        band_index.admit(empty, deleted_ids=ids)
    for table in (corpus_store, survivors_table, rejected_table):
        snap = table.snapshot()
        if snap.version_dir is not None:
            kept = snap.df.filter(~F.col(id_col).isin(ids))
            table.overwrite(kept, expected_base=snap.version_dir)


def corpus_pipeline_replay(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    min_tokens: int = 10,
    max_bucket_members: int = 1024,
) -> DataFrame:
    """Batch replay of the full pipeline for an id-ordered feed — the
    driver-checkable twin of the streaming sink state: quality gate,
    min-id-per-fingerprint exact dedup, online-LSH replay (any matching
    band drops the doc; dup_of = the smallest matching earlier id), split
    labels for survivors. Returns (doc_id, n_tokens, split, dup_of) with
    dup_of NULL for survivors — the union of both sink tables."""
    from pyspark.sql import Window

    from affinity_spark.operators.sampling import train_split
    from affinity_spark.streaming.dedup_stream import online_lsh_replay

    scored = docs.select(
        F.col(id_col),
        F.col(text_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= min_tokens)
    w_fp = Window.partitionBy(doc_fingerprint(F.col(text_col))).orderBy(id_col)
    keepers = (
        scored.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # keepers feeds BOTH the LSH branch (twice inside online_lsh_replay:
    # stored × arriving) and the final label join — unpersisted, the
    # corpus scan + tokenize + fp-window would run once per branch (the
    # r5 dedup_winnow_pairs lesson). Tracked so bench/driver sessions
    # release it after the query. The repartition pins the cached
    # frame's parallelism: keepers is CPU-dense per byte (the LSH
    # shingle/band kernels run over it twice), so AQE's byte-based
    # coalescing of cached output (session default, r15) would
    # serialize both branches onto ~1 task (A/B: 1.8 → 3.3 s at sf0.1).
    # User repartitions are exempt through the cache boundary.
    from affinity_spark.cache import track as _track_cache

    spark = docs.sparkSession
    keepers = _track_cache(
        keepers.repartition(
            spark.sparkContext.defaultParallelism, id_col
        ).persist()
    )
    matches = (
        online_lsh_replay(
            keepers, id_col, text_col, n, t_num, t_den, max_bucket_members
        )
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    labelled = keepers.join(matches, "doc_id", "left").select(
        "doc_id", "n_tokens", "dup_of"
    )
    # train_split's label is a pure row-local hash of the id, so the
    # survivors/rejected distinction is a projection — the former
    # filter+union form duplicated the whole LSH-join subtree in the plan
    # (each union branch recomputed it).
    return train_split(labelled, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.when(F.col("dup_of").isNull(), F.col("split"))
        .otherwise(F.lit(None).cast("string"))
        .alias("split"),
        F.col("dup_of").cast("long").alias("dup_of"),
    )
