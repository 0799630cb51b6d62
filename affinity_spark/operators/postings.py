"""Materialized inverted (postings) index shared by the retrieval family.

The reference's secondary index is a MAINTAINED table: `KVStoreLocal`
listens to the primary state's change stream and keeps the index current
(``core/src/main/scala/io/amient/affinity/core/state/KVStoreLocal.scala:195-248``),
and every lookup is a read of that table, never a rescan of the primary
(``KVStoreIndex.scala:20-66``). Before this module, each retrieval query
(`ranking.tfidf_pairs`, `ranking.bm25_topk`, `index.phrase_lookup`)
re-tokenized and re-aggregated the documents corpus per query — tfidf's
plan read the docs ~3x across 9 shuffles. At 100 TB the term-frequency
frame IS the inverted index a deployment materializes once.

Spark-first shape:

- ONE pass over the corpus builds three KeyedTable-backed tables
  (the tokenized frame is persisted for the duration of the build so the
  parquet scan happens once):
    * ``doclen``            (doc_id, dl)          - per-doc token count
    * ``post1``             (term, doc_id, pos)   - positional unigrams
    * ``post{n}`` per n > 1 (term, doc_id, tf)    - word-n-gram term freqs
- tables are clustered by (term, ...) on write (KeyedTable repartitions by
  key), so a per-term lookup skips files via parquet min/max stats; at
  cluster scale the same tables are partitioned by a term hash-bucket
  column and a phrase/bm25 term lookup is a partition-pruned scan.
- every corpus statistic the queries need derives from the index alone:
  df(term) = per-term row count of the tf view, (N, L) = one-row agg of
  ``doclen`` - zero scans of the documents table at query time.
- incremental maintenance is the same MERGE shape the primary tables use
  from ``foreachBatch``: tokenize ONLY the changed docs, anti-join the
  touched doc ids out of the current snapshot, union the fresh postings,
  and commit with CAS so a racing maintainer loses loudly, never
  silently. Every table additionally carries a ``_bucket`` hive
  partition column (pmod(hash(doc_id), doc_buckets)): the merge scans
  ONLY the touched buckets (PartitionFilters pruning) and commits via
  ``KeyedTable.overwrite_partitions``, which hardlinks every untouched
  bucket's files from the base snapshot — delta cost is O(changed docs)
  tokenization + O(touched buckets) rewrite, with zero IO for the rest
  of the index.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.cache import temp_root
from affinity_spark.functions.lits import local_df
from affinity_spark.sources.keyed_table import KeyedTable


def _grams(tokens: F.Column, n: int) -> F.Column:
    """Non-distinct word n-grams of a token array (tf stays a real count)."""
    cnt = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(cnt > 0, grams).otherwise(F.array().cast("array<string>"))


class PostingsIndex:
    """A directory of KeyedTables forming one logical inverted index."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        grams: Sequence[int] = (1,),
        id_col: str = "doc_id",
        text_col: str = "text",
        num_buckets: int = 8,
        doc_buckets: int | None = None,
    ) -> None:
        if 1 not in grams:
            grams = (1, *grams)  # doclen/positional always derive from unigrams
        self.spark = spark
        self.path = path
        self.grams = tuple(sorted(set(grams)))
        self.id_col = id_col
        self.text_col = text_col
        # every table carries a hive partition column _bucket =
        # pmod(hash(doc_id), doc_buckets) so refresh() rewrites ONLY the
        # buckets holding changed docs and hardlinks the rest (IO scales
        # with min(changed_docs, doc_buckets)/doc_buckets of the index, not
        # the index). None = AUTO: build() sizes the lever ∝ corpus and
        # COMMITS the count (operators/bucketing) — per-bucket rewrite
        # cost stays a constant with no manual knob.
        self._explicit_buckets = doc_buckets
        self._effective: int | None = None
        self._doclen = KeyedTable(
            spark, os.path.join(path, "doclen"), [id_col], ts_col="dl",
            num_buckets=num_buckets, partition_col="_bucket",
            single_file_partitions=True,
        )
        # postings tables use KeyedTable for snapshots/CAS/clustering only
        # (never upsert/get - a term is not a per-row primary key): keying
        # by ``term`` alone makes overwrite() cluster each term's posting
        # list into one file set per write task, so a term-equality lookup
        # skips files via parquet min/max stats - the reference's
        # index-partition locality. The _bucket partition dirs don't break
        # that: within each bucket dir every file still spans one task's
        # term range, so term lookups skip by footer stats exactly as
        # before (term pruning is file-level, bucket pruning dir-level).
        self._tables: dict[int, KeyedTable] = {}
        for n in self.grams:
            self._tables[n] = KeyedTable(
                spark, os.path.join(path, f"post{n}"), ["term"],
                ts_col="pos" if n == 1 else "tf", num_buckets=num_buckets,
                partition_col="_bucket", single_file_partitions=True,
            )

    def _effective_buckets(self) -> int:
        if self._effective is None:
            from affinity_spark.operators.bucketing import committed_buckets

            self._effective = committed_buckets(
                self._doclen, "doc_buckets", self._explicit_buckets
            )
        return self._effective

    @property
    def doc_buckets(self) -> int:
        return self._effective_buckets()

    @staticmethod
    def _capped_auto(n_docs: int, total_tokens: int) -> int:
        """The auto lever for THIS family: ∝ docs, bytes-floor-capped at
        ~8 B/posting-row of the largest gram table."""
        from affinity_spark.operators.bucketing import (
            auto_bucket_count,
            bytes_floor_cap,
        )

        return min(auto_bucket_count(n_docs), bytes_floor_cap(total_tokens * 8))

    def _auto_count(self) -> int:
        row = self._doclen.read().agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tok")
        ).collect()[0]
        return self._capped_auto(int(row["n"]), int(row["tok"] or 0))

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        """Growth trigger for the bucket lever (the IVF ``needs_retrain``
        discipline): the corpus outgrew the committed count ``factor``×,
        so refreshes are sliding toward the fixed-bucket anti-pattern
        regime (BASELINE r11k)."""
        return self._auto_count() >= factor * self._effective_buckets()

    def rebucket(self, doc_buckets: int | None = None) -> int:
        """Re-place every table under a fresh bucket count (auto ∝
        current corpus unless given) — the amortized full rewrite that
        keeps refreshes delta-IO as the corpus grows. Pure physical
        placement: reads are identical across it; one shared lineage id
        marks the multi-table commit like any build/refresh."""
        import uuid

        self.check_consistent()
        new = doc_buckets or self._auto_count()
        col = F.pmod(F.hash(F.col(self.id_col).cast("string")), F.lit(new))
        lineage = {"postings_lineage": uuid.uuid4().hex, "doc_buckets": new}
        for table in [self._doclen, *self._tables.values()]:
            table.overwrite(
                table.read().withColumn("_bucket", col), meta=lineage
            )
        self._effective = new
        return new

    def _bucket(self) -> F.Column:
        # murmur3 (F.hash) is seed-stable across sessions, so bucket
        # assignment is reproducible between build and every later refresh.
        # Hash the STRING form: murmur3 of int32 vs int64 differ for the
        # same value, so an id arriving at a different numeric width (e.g.
        # the deleted_ids frame inferring long against an int corpus)
        # would bucket inconsistently and the merge would rewrite the
        # wrong partition while hardlinking the stale one
        return F.pmod(
            F.hash(F.col(self.id_col).cast("string")),
            F.lit(self._effective_buckets()),
        )

    # --- build / maintain ------------------------------------------------

    def _tokenized(self, docs: DataFrame) -> DataFrame:
        from affinity_spark.functions.text import tokenize

        # NULL text tokenizes to NULL, which would poison doclen (size of
        # NULL is NULL) and silently drop the doc from postings while
        # keeping it in doclen - normalize to the empty document instead
        toks = F.coalesce(
            tokenize(F.col(self.text_col)), F.array().cast("array<string>")
        )
        return docs.select(F.col(self.id_col), toks.alias("_toks"))

    def _doclen_delta(self, toks: DataFrame) -> DataFrame:
        return toks.select(
            self.id_col, F.size("_toks").cast("long").alias("dl"),
            self._bucket().alias("_bucket"),
        )

    def _postings_delta(self, toks: DataFrame, n: int) -> DataFrame:
        if n == 1:
            return toks.select(
                self.id_col, F.posexplode("_toks").alias("pos", "term")
            ).select(
                "term", self.id_col, F.col("pos").cast("long").alias("pos"),
                self._bucket().alias("_bucket"),
            )
        return (
            toks.select(self.id_col, F.explode(_grams(F.col("_toks"), n)).alias("term"))
            .groupBy("term", self.id_col)
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("_bucket", self._bucket())
        )

    def build(self, docs: DataFrame) -> None:
        """Full (re)build: one scan of ``docs`` feeds every table.

        The tokenized frame is persisted across the per-table writes and
        released immediately after - without it each KeyedTable write
        would re-scan and re-tokenize the corpus.
        """
        import uuid

        # one lineage id across the per-table commits: the tables form ONE
        # logical index, but commit independently — a crash mid-loop would
        # otherwise leave doclen updated with stale postings and silently
        # skew every bm25/tfidf score. exists() verifies the id agrees.
        from affinity_spark.operators.bucketing import auto_bucket_count

        toks = self._tokenized(docs).persist()
        # the lever, chosen ∝ corpus (no manual knob) unless pinned by the
        # constructor; committed in the lineage meta so refreshes agree.
        # Capped by the BYTES floor: a doc fans into ~tokens postings rows
        # of ~8 B on disk, and buckets smaller than a row group only
        # multiply read-side file opens (bytes_floor_cap — the r13 bm25
        # 2× read regression) without reducing real admit IO.
        row = toks.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("_toks")).alias("tok"),
        ).collect()[0]
        self._effective = (
            self._explicit_buckets
            if self._explicit_buckets is not None
            else self._capped_auto(int(row["n"]), int(row["tok"] or 0))
        )
        lineage = {
            "postings_lineage": uuid.uuid4().hex,
            "doc_buckets": self._effective,
        }
        try:
            # the per-table writes are independent jobs over the one
            # persisted token frame (different tables, own CAS pointers):
            # submit them concurrently so each job's task tail back-fills
            # the executors the others free (guide §2.6) instead of paying
            # three sequential stragglers. 2-3 in flight is the sweet spot.
            from concurrent.futures import ThreadPoolExecutor

            writes = [
                lambda: self._doclen.overwrite(
                    self._doclen_delta(toks), meta=lineage
                ),
                *[
                    (lambda n=n: self._tables[n].overwrite(
                        self._postings_delta(toks, n), meta=lineage
                    ))
                    for n in self.grams
                ],
            ]
            with ThreadPoolExecutor(max_workers=3) as pool:
                for f in [pool.submit(w) for w in writes]:
                    f.result()
        finally:
            toks.unpersist()

    def refresh(
        self, changed_docs: DataFrame, deleted_ids: Iterable[object] = ()
    ) -> None:
        """Incremental MERGE: re-index only ``changed_docs`` (updated OR
        newly added), drop ``deleted_ids``.  Matches a full rebuild on the
        post-change corpus exactly (pinned by tests/test_postings.py).

        ``changed_docs`` must carry ONE row per doc id — a changelog batch
        with several versions of a doc must be compacted to the latest
        first (``operators.kv.compact_latest``), exactly as the primary
        table's foreachBatch MERGE does; two rows for one id would index
        both versions' postings side by side.

        IO is delta-proportional, not index-proportional: only the doc-id
        buckets containing touched docs are read (PartitionFilters-pruned
        scan) and rewritten; every untouched bucket is HARDLINKED from the
        base snapshot into the new one (``overwrite_partitions``). A batch
        of k changed docs touches min(k, doc_buckets) buckets, so with
        doc_buckets ∝ corpus the merge cost is O(k · bucket_size).
        """
        import uuid

        # materialize first: a generator (or any non-list iterable) is
        # truthy even when empty/exhausted, and the Iterable hint allows
        # one-shot iterables that can't be consumed twice — branch on the
        # materialized list's length, never on iterable truthiness
        deleted = list(deleted_ids)
        # shared lineage id across the three per-table CAS commits (see
        # build()): a crash between merges must be DETECTABLE, not a
        # silently skewed index. The committed bucket count rides along —
        # refresh never resizes the lever (rebucket() does).
        # CAS anchors FIRST, then re-resolve the committed lever: never
        # merge under a bucket count cached before another instance's
        # rebucket() (r12 ADVICE) — anchoring each commit to the version
        # the lever was resolved against makes a mid-refresh rebucket
        # fail the CAS loudly instead of stamping a stale count over
        # fresh placements (r13 review)
        bases = {
            t: t.snapshot().version_dir
            for t in (self._doclen, *self._tables.values())
        }
        self._effective = None
        lineage = {
            "postings_lineage": uuid.uuid4().hex,
            "doc_buckets": self._effective_buckets(),
        }
        toks = self._tokenized(changed_docs).persist()
        try:
            touched = toks.select(self.id_col).distinct()
            if len(deleted) > 0:
                gone = local_df(
                    self.spark, [(d,) for d in deleted], f"`{self.id_col}` bigint"
                )
                touched = touched.unionByName(gone).distinct()
            touched_p = touched.persist()
            # bucket list is driver-side but bounded by doc_buckets
            buckets = [
                r[0]
                for r in touched_p.select(
                    self._bucket().alias("_bucket")
                ).distinct().collect()
            ]
            touched = F.broadcast(touched_p)

            def merge(table: KeyedTable, delta: DataFrame) -> None:
                base_version = bases[table]
                cur = table.read()
                # ONLY the touched buckets are scanned (partition pruning);
                # the anti-join would reorder columns (join key first) -
                # re-select the snapshot's own order so schema is stable
                pruned = cur.filter(F.col("_bucket").isin(buckets))
                kept = pruned.join(touched, self.id_col, "left_anti").select(
                    *cur.columns
                )
                # cast the delta to the SNAPSHOT's schema: a changelog at a
                # different numeric width (long ids against an int table)
                # would otherwise write mixed physical parquet types into
                # one table and poison every later read
                table.overwrite_partitions(
                    kept.unionByName(
                        delta.select(
                            *[
                                F.col(c).cast(cur.schema[c].dataType).alias(c)
                                for c in cur.columns
                            ]
                        )
                    ),
                    buckets,
                    expected_base=base_version,
                    meta=lineage,
                )

            merge(self._doclen, self._doclen_delta(toks))
            for n in self.grams:
                merge(self._tables[n], self._postings_delta(toks, n))
            touched_p.unpersist()
        finally:
            toks.unpersist()

    def exists(self) -> bool:
        """True when every constituent table has a committed snapshot AND
        they all belong to the same build/refresh (shared lineage id in
        the commit meta — legacy pre-lineage tables all missing the key
        still read as consistent).

        A torn index (partial build/refresh: crash or lost CAS race
        between the per-table commits) returns ``False`` so the common
        self-heal pattern ``if not ix.exists(): ix.build(docs)`` recovers
        it — ``build()`` recommits every table under one fresh lineage id
        and is always a valid repair. Callers that want the torn state
        to fail LOUDLY instead (serving doclen from one generation and
        postings from another skews every bm25/tfidf score undetectably)
        should call :meth:`check_consistent`.

        Note: a reader racing a mid-flight ``refresh()`` (doclen
        committed, gram tables not yet) transiently observes the torn
        state; that is indistinguishable from a crash until the refresh's
        remaining commits land."""
        snaps = [t.snapshot() for t in (self._doclen, *self._tables.values())]
        ids = {s.meta.get("postings_lineage") for s in snaps}
        return all(s.version_dir for s in snaps) and len(ids) <= 1

    def check_consistent(self) -> None:
        """Raise if the committed tables disagree on lineage (torn
        build/refresh). Missing tables are NOT an error here — use
        :meth:`exists` for presence."""
        snaps = [t.snapshot() for t in (self._doclen, *self._tables.values())]
        ids = {s.meta.get("postings_lineage") for s in snaps if s.version_dir}
        if len(ids) > 1:
            raise RuntimeError(
                f"postings index at {self.path} is cross-table inconsistent: "
                f"lineage ids {sorted(str(i) for i in ids)} — a build/refresh "
                "was interrupted between table commits (or is racing this "
                "read); rebuild or re-refresh"
            )

    # --- reads -------------------------------------------------------------

    def doclens(self) -> DataFrame:
        return self._doclen.read().drop("_bucket")

    def positional(self) -> DataFrame:
        """(term, doc_id, pos) unigram postings - phrase/proximity queries."""
        return self._tables[1].read().drop("_bucket")

    def tf_postings(self, n: int = 1) -> DataFrame:
        """(term, doc_id, tf) for gram size ``n``; unigram tf is derived
        from the positional table (no second copy on disk)."""
        if n == 1:
            return (
                self.positional()
                .groupBy("term", self.id_col)
                .agg(F.count(F.lit(1)).alias("tf"))
            )
        return self._tables[n].read().drop("_bucket")

    def corpus_stats(self) -> DataFrame:
        """One row (n_docs, total_len) - broadcast into scoring plans."""
        return self.doclens().agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
        )

    def term_stats(self, n: int = 1) -> DataFrame:
        """(term, df) document frequencies from the index alone."""
        return (
            self.tf_postings(n)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    def top_bigram(self) -> DataFrame:
        """1-row (phrase,) - the corpus's most frequent adjacent-token
        bigram, computed from the INDEX, never by re-tokenizing the
        corpus.  When the index carries a bigram tf table this is a
        partial-agg sum over it (term-clustered, TakeOrdered finish);
        otherwise positions are dense per doc (posexplode of the token
        array), so lead(term) over (doc, pos) IS the (pos, pos+1) pair —
        one postings scan and one exchange, vs two of each for the
        equivalent self-join (exchange reuse does not bridge the pos-1
        projection).  Either path counts every adjacent occurrence, ties
        break on bigram text (matches the corpus-scan derivation)."""
        if 2 in self.grams:
            return (
                self.tf_postings(2)
                .groupBy("term")
                .agg(F.sum("tf").alias("c"))
                .orderBy(F.desc("c"), F.asc("term"))
                .limit(1)
                .select(F.col("term").alias("phrase"))
            )
        from pyspark.sql import Window

        p = self.positional()
        w = Window.partitionBy(self.id_col).orderBy("pos")
        return (
            p.withColumn("_w2", F.lead("term").over(w))
            .filter(F.col("_w2").isNotNull())
            .select(F.concat_ws(" ", "term", "_w2").alias("bg"))
            .groupBy("bg")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("bg"))
            .limit(1)
            .select(F.col("bg").alias("phrase"))
        )


# --------------------------------------------------------------------------
# Process-local shared instances (one build per corpus per session, shared
# by every retrieval query in the process - the query-path analogue of the
# maintained index; a deployment would point at the maintained KeyedTables).
# --------------------------------------------------------------------------

# (applicationId, corpus_key) -> (corpus fingerprint, index)
_SHARED: dict[tuple[str, str], tuple[str, PostingsIndex]] = {}


def _corpus_fingerprint(docs: DataFrame) -> str:
    """Identity of the PHYSICAL corpus behind a DataFrame: sorted input
    file listing + (mtime_ns, size) per file, hashed.  Folding this into
    the shared-index cache key means a corpus that is regenerated or
    updated AT THE SAME PATH within one Spark application gets a fresh
    index instead of silently serving the stale one.  Frames with no
    input files (in-memory, views) fingerprint as '' — those callers fall
    back to corpus_key identity alone, which is the caller's contract."""
    import hashlib
    from urllib.parse import urlparse

    try:
        files = sorted(docs.inputFiles())
    except Exception:
        return ""
    parts = []
    for uri in files:
        path = urlparse(uri).path if "://" in uri or uri.startswith("file:") else uri
        try:
            st = os.stat(path)
            parts.append(f"{path}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(path)
    return hashlib.md5("|".join(parts).encode()).hexdigest() if parts else ""


def shared_postings(
    spark: SparkSession,
    docs: DataFrame,
    corpus_key: str,
    grams: Sequence[int] = (1, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> PostingsIndex:
    """Build-once-per-process postings over ``docs``, keyed by
    (application id, corpus_key); the physical corpus fingerprint is
    stored in the VALUE, not the key, so a regenerated corpus at the same
    path rebuilds AND evicts (rmtree) the superseded index instead of
    leaking one tempdir per generation (r6 advice).  The first retrieval
    query pays the ONE corpus scan; every later query reads the
    materialized tables."""
    import shutil

    key = (spark.sparkContext.applicationId, corpus_key)
    fp = _corpus_fingerprint(docs)
    want = tuple(sorted({1, *grams}))
    cached = _SHARED.get(key)
    if cached is not None:
        cached_fp, idx = cached
        if cached_fp == fp and idx.exists():
            if set(want) <= set(idx.grams):
                return idx
            # corpus unchanged, grams missing: grow the gram set instead of
            # destroying the index — two call sites with disjoint grams must
            # not alternately evict each other's build (r7 advice)
            want = tuple(sorted({*want, *idx.grams}))
        # superseded (regenerated corpus / torn index / missing grams):
        # drop the entry and reclaim its on-disk tables before rebuilding
        del _SHARED[key]
        shutil.rmtree(idx.path, ignore_errors=True)
    root = temp_root("affinity_postings_")
    idx = PostingsIndex(
        spark, root, grams=want, id_col=id_col, text_col=text_col
    )
    idx.build(docs)
    _SHARED[key] = (fp, idx)
    return idx
