"""Maintained IVF vector index — the ANN analogue of PostingsIndex.

Before this module the IVF family (`operators/ivf.py`) re-collected its
codebook and re-assigned the corpus per session: fine for one query, wrong
for a deployment running continuous ingest + ANN serving. The reference's
secondary indexes are MAINTAINED tables kept current by the state change
stream (``core/src/main/scala/io/amient/affinity/core/state/
KVStoreLocal.scala:195-248``); this applies that treatment to the vector
index, exactly as ``operators/postings.py`` did for the inverted text
index.

Spark-first shape:

- two KeyedTables form one logical index under a shared lineage id:
    * ``centroids`` (cell, cv)            — the codebook, k rows, broadcast
                                            into every probe plan;
    * ``assigned``  (id, vec, cell)       — every corpus vector with its
                                            nearest-centroid cell, laid out
                                            with ``cell`` as the HIVE
                                            PARTITION column.
- because ``cell`` is a partition dir, a search that probes ``nprobe``
  cells is a PartitionFilters-pruned scan: the other k - nprobe cells are
  never read. This is the on-disk realization of the "cell is a partition
  column at real scale" contract ivf.search documents.
- ``admit()`` assigns ONLY the new/changed vectors against the existing
  codebook (map-side, no shuffle of the corpus), rewrites ONLY the touched
  cell partitions, and hardlinks every untouched cell's files from the
  base snapshot (``KeyedTable.overwrite_partitions``) — merge IO is
  O(batch + touched cells), never O(index). The codebook generation is
  UNCHANGED by admit, so the shared lineage id carries forward and a
  racing admit loses loudly on the CAS pointer.
- drift detection is a k-row aggregate of the assigned table: when cell
  sizes skew past a bound (hot cells make probes scan too much) or the
  corpus has grown past a fraction of what the codebook was trained on,
  ``needs_retrain`` says so and ``retrain()`` re-clusters from the
  maintained table itself — the measured "cells ∝ corpus" lever from
  BASELINE.md r5, now a maintained-table operation instead of a rehearsal
  script.
- ``maintainer()`` returns a foreachBatch function so a streaming ingest
  keeps the index current exactly like BandIndex/PostingsIndex
  maintenance.

All distance math stays JVM-side (functions.vectors via operators/ivf);
the only collect is the k-row codebook — bounded by design.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.lits import double_matrix_lit, local_df
from affinity_spark.functions.vectors import sq_dist
from affinity_spark.operators.ivf import assign, batch_search, search, train_centroids
from affinity_spark.sources.keyed_table import KeyedTable


class IVFIndex:
    """A directory of KeyedTables forming one maintained IVF ANN index."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_buckets: int = 8,
        pq_m: int | None = None,
        pq_k: int = 8,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        # PQ serving shape (Jégou et al. 2011): when pq_m is set, every
        # admitted row ALSO carries its m subspace codes as int columns of
        # the assigned table, encoded map-side against per-subspace
        # codebooks committed beside the centroids under the same lineage.
        # ADC search then scans (id, code_*) of the probed cells only —
        # column pruning keeps raw vectors off the wire, partition pruning
        # keeps unprobed cells off disk.
        self.pq_m = pq_m
        self.pq_k = pq_k
        # codebook: k rows; `gen` is the training generation ordinal so a
        # reader can cheaply see "same codebook as last time" without
        # diffing vectors
        self._centroids = KeyedTable(
            spark, os.path.join(path, "centroids"), ["cell"], ts_col="gen",
            num_buckets=1,
        )
        # corpus vectors, hive-partitioned by cell: probes prune to the
        # nprobe touched dirs, admits rewrite only the touched dirs
        self._assigned = KeyedTable(
            spark, os.path.join(path, "assigned"), [id_col], ts_col="cell",
            num_buckets=num_buckets, partition_col="cell",
        )
        # per-subspace PQ codebooks: m*k rows keyed by (subspace, idx)
        self._pq_books = (
            KeyedTable(
                spark, os.path.join(path, "pq_books"), ["s", "idx"],
                ts_col="gen", num_buckets=1,
            )
            if pq_m
            else None
        )

    # --- build / maintain --------------------------------------------------

    def _assigned_delta(
        self,
        emb: DataFrame,
        codebook: list[list[float]],
        pq_books: list[list[list[float]]] | None = None,
    ) -> DataFrame:
        out = assign(
            emb.select(self.id_col, self.vec_col), codebook,
            id_col=self.id_col, vec_col=self.vec_col,
        )
        if self.pq_m:
            from affinity_spark.operators.pq import code_columns

            if pq_books is None:
                pq_books = self.pq_codebooks()
            # encode map-side IN THE SAME SELECT as the cell assignment:
            # codes ride the exact delta the admit merge writes, so the
            # delta-IO contract (rewrite touched cells only) covers them
            out = out.select("*", *code_columns(pq_books, self.vec_col))
        return out

    def build(
        self,
        emb: DataFrame,
        k: int = 8,
        n_iter: int = 0,
        codebook: list[list[float]] | None = None,
        pq_books: list[list[list[float]]] | None = None,
    ) -> None:
        """Full (re)build: train (or accept) a codebook, assign every
        vector map-side, commit both tables under ONE fresh lineage id.
        ``n_iter=0`` keeps the deterministic k-lowest-id seed codebook
        (the SQL-reproducible variant the oracle queries use); Lloyd
        iterations refine it when reproducibility-by-SQL isn't required.

        With ``pq_m`` set, per-subspace PQ codebooks are trained (or
        accepted) under the SAME lineage and every assigned row is encoded
        map-side — the index stores codes, so ADC reads never re-derive
        them (reference pattern: maintained index X1,
        core/src/main/scala/io/amient/affinity/core/state/KVStoreLocal.scala:195-248)."""
        if codebook is None:
            codebook = train_centroids(
                emb, k, n_iter=n_iter, id_col=self.id_col, vec_col=self.vec_col
            )
        if self.pq_m and pq_books is None:
            from affinity_spark.operators.pq import train_pq

            pq_books = train_pq(
                emb, self.pq_m, self.pq_k, dim=len(codebook[0]),
                n_iter=n_iter, id_col=self.id_col, vec_col=self.vec_col,
            )
        gen = int(self._centroids.commit_meta().get("ivf_gen", -1)) + 1
        lineage = {
            "ivf_lineage": uuid.uuid4().hex,
            "ivf_gen": gen,
            # denominator for the growth drift signal
            "n_at_build": emb.count(),
            "k": len(codebook),
        }
        cents = local_df(
            self.spark,
            [(i, [float(x) for x in c], gen) for i, c in enumerate(codebook)],
            "cell bigint, cv array<double>, gen bigint",
        )
        self._centroids.overwrite(cents, meta=lineage)
        if self.pq_m:
            books_df = local_df(
                self.spark,
                [
                    (s, i, [float(x) for x in c], gen)
                    for s, book in enumerate(pq_books)
                    for i, c in enumerate(book)
                ],
                "s bigint, idx bigint, cv array<double>, gen bigint",
            )
            self._pq_books.overwrite(books_df, meta=lineage)
        self._assigned.overwrite(
            self._assigned_delta(emb, codebook, pq_books), meta=lineage
        )

    def admit(
        self, new_vectors: DataFrame, deleted_ids: Iterable[object] = ()
    ) -> None:
        """Incremental MERGE: assign ONLY the new/updated vectors against
        the CURRENT codebook (map-side — the corpus is never reshuffled),
        drop ``deleted_ids``, rewrite only the touched cell partitions and
        hardlink the rest. Matches a full rebuild with the same codebook
        exactly (pinned by tests/test_ivf_index.py).

        The codebook generation is unchanged, so the shared lineage id
        carries forward — ``exists()`` still sees one consistent index."""
        deleted = list(deleted_ids)  # generators are truthy when exhausted
        codebook = self.codebook()
        snap = self._assigned.snapshot()
        cur = snap.df
        delta = self._assigned_delta(new_vectors, codebook).select(
            # cast to the SNAPSHOT's schema: a delta at a different numeric
            # width would write mixed physical parquet types into one table
            *[F.col(c).cast(cur.schema[c].dataType).alias(c) for c in cur.columns]
        )
        touched_ids = new_vectors.select(self.id_col).distinct()
        if len(deleted) > 0:
            gone = local_df(
                self.spark, [(d,) for d in deleted], f"`{self.id_col}` bigint"
            )
            touched_ids = touched_ids.unionByName(gone).distinct()
        touched_p = F.broadcast(touched_ids.persist())
        # touched cells = cells the delta lands in + cells currently
        # holding a touched id (an updated vector may MOVE cells; a deleted
        # one only has its old cell). Driver-side list bounded by k.
        cells = {
            r[0]
            for r in delta.select("cell").distinct().collect()
        } | {
            r[0]
            for r in cur.join(touched_p, self.id_col)
            .select("cell").distinct().collect()
        }
        cells = sorted(cells)
        kept = (
            cur.filter(F.col("cell").isin(cells))
            .join(touched_p, self.id_col, "left_anti")
            .select(*cur.columns)
        )
        self._assigned.overwrite_partitions(
            kept.unionByName(delta), cells, expected_base=snap.version_dir
        )
        touched_p.unpersist()

    def retrain(self, k: int | None = None, n_iter: int = 0) -> None:
        """Re-cluster from the maintained table itself (the drift
        response): a fresh codebook over the CURRENT corpus, new lineage,
        new generation. ``k`` defaults to the current codebook size —
        growing k as the corpus grows is the "cells ∝ corpus" scale
        lever."""
        if k is None:
            k = int(self._centroids.commit_meta().get("k", 8))
        corpus = self.vectors().select(self.id_col, self.vec_col)
        self.build(corpus, k=k, n_iter=n_iter)

    def maintainer(
        self,
        auto_retrain: bool = False,
        max_skew: float = 4.0,
        max_growth: float = 0.5,
        grow_k: bool = True,
    ):
        """foreachBatch function for streaming maintenance: each
        micro-batch of (id, vec) rows is admitted incrementally, exactly
        like PostingsIndex/BandIndex maintenance.

        With ``auto_retrain`` the maintainer also keeps the index HEALTHY,
        not just current: after each admit it runs the k-row drift check
        and, when cell skew or corpus growth crosses the bounds,
        re-clusters from the maintained table — with ``grow_k`` the new
        codebook scales k by the measured corpus growth (the "cells ∝
        corpus" lever firing autonomously, so per-cell size — and
        therefore probe cost — stays roughly constant under continuous
        ingest). Retrain frequency is self-limiting: each retrain resets
        ``n_at_build``, so the growth trigger needs another
        ``max_growth`` fraction of NEW corpus before firing again."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df)
            if auto_retrain and self.needs_retrain(max_skew, max_growth):
                meta = self._centroids.commit_meta()
                k = int(meta.get("k", 8))
                if grow_k:
                    n0 = int(meta.get("n_at_build", 0))
                    n_now = self._assigned.read().count()
                    if n0 > 0 and n_now > n0:
                        # round k up with the corpus; never shrink
                        k = max(k, -(-k * n_now // n0))
                self.retrain(k=k)

        return apply

    # --- drift ---------------------------------------------------------------

    def cell_stats(self) -> DataFrame:
        """(cell, n) — one row per cell; k rows, the drift signal."""
        return self._assigned.read().groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        )

    def needs_retrain(
        self, max_skew: float = 4.0, max_growth: float = 0.5
    ) -> bool:
        """True when probing has degraded: the hottest cell holds more
        than ``max_skew``× the mean cell (a probe touching it scans too
        much), or the corpus grew more than ``max_growth`` of what the
        codebook was trained on (cells ∝ corpus means k itself is stale).
        One k-row aggregate; safe to call per maintenance cycle."""
        row = (
            self.cell_stats()
            .agg(F.max("n").alias("mx"), F.sum("n").alias("total"),
                 F.count(F.lit(1)).alias("k"))
            .collect()[0]
        )
        if not row["total"]:
            return False
        mean = row["total"] / row["k"]
        if row["mx"] > max_skew * mean:
            return True
        n0 = int(self._centroids.commit_meta().get("n_at_build", 0))
        return n0 > 0 and (row["total"] - n0) / n0 > max_growth

    # --- consistency -----------------------------------------------------------

    def exists(self) -> bool:
        """True when both tables are committed AND share one lineage id —
        a torn build (crash between the two commits) reads as absent so
        ``if not ix.exists(): ix.build(...)`` self-heals."""
        tables = [self._centroids, self._assigned]
        if self._pq_books is not None:
            tables.append(self._pq_books)
        snaps = [t.snapshot() for t in tables]
        ids = {s.meta.get("ivf_lineage") for s in snaps}
        return all(s.version_dir for s in snaps) and len(ids) <= 1

    # --- reads -------------------------------------------------------------

    def _per_version(self, attr: str, table: KeyedTable, build):
        """``build(snapshot)`` of ``table``'s current version, memoized in
        ``attr`` by version dir: a retrain commits a new version, which
        invalidates the memo."""
        snap = table.snapshot()
        cached = getattr(self, attr, None)
        if cached is None or cached[0] != snap.version_dir:
            cached = (snap.version_dir, build(snap))
            setattr(self, attr, cached)
        return cached[1]

    def codebook(self) -> list[list[float]]:
        """The committed codebook as a plain list (k rows — tiny by
        design), cell order preserved. Memoized per committed version (a
        serving system holds the model driver-side; re-collecting it per
        query added two driver jobs to every index-served search — the
        emb_pq_batch_search wall was ~half non-execution, r13)."""
        return self._per_version(
            "_codebook_memo", self._centroids,
            lambda snap: [
                [float(x) for x in r["cv"]]
                for r in snap.df.orderBy("cell").collect()
            ],
        )

    def pq_codebooks(self) -> list[list[list[float]]]:
        """The committed per-subspace PQ codebooks as a nested list
        (m*k rows — model-sized by design), (s, idx) order preserved.
        Memoized per committed version (see :meth:`codebook`)."""
        if self._pq_books is None:
            raise ValueError("index was opened without pq_m; no PQ codebooks")

        def build(snap) -> list[list[list[float]]]:
            books: list[list[list[float]]] = [[] for _ in range(self.pq_m)]
            for r in snap.df.orderBy("s", "idx").collect():
                books[r["s"]].append([float(x) for x in r["cv"]])
            return books

        return self._per_version("_pq_books_memo", self._pq_books, build)

    def codebook_lit(self):
        """The committed codebook as ONE literal Column, memoized per
        version: ``F.lit`` over a nested list costs one py4j round trip
        PER SCALAR (a k×d codebook ≈ 500 socket calls ≈ 0.5 s of
        frame-construction wall), so rebuilding it on every query build
        dominated emb_pq_batch_search's in-set wall (r13 verdict #4).
        Column expressions are immutable plan fragments — reusing one
        across queries is safe."""
        return self._per_version(
            "_codebook_lit_memo", self._centroids,
            lambda _snap: double_matrix_lit(self.codebook()),
        )

    def pq_book_lits(self) -> list:
        """Per-subspace PQ codebooks as literal Columns, memoized per
        version (see :meth:`codebook_lit`)."""
        return self._per_version(
            "_pq_book_lits_memo", self._pq_books,
            lambda _snap: [double_matrix_lit(b) for b in self.pq_codebooks()],
        )

    def vectors(self) -> DataFrame:
        """(id, vec, cell[, code_*]) — the maintained assignment table.
        Filters on ``cell`` are partition-pruned."""
        return self._assigned.read()

    def codes(self) -> DataFrame:
        """(id, cell, code_0..code_{m-1}) — the PQ view of the assigned
        table. Raw vectors are PROJECTED AWAY here, so a plan built on this
        frame reads only the 4-byte codes of the cells it probes (column
        pruning + partition pruning — the billion-vector serving read)."""
        if self._pq_books is None:
            raise ValueError("index was opened without pq_m; no PQ codes")
        code_cols = [f"code_{s}" for s in range(self.pq_m)]
        return self._assigned.read().select(self.id_col, "cell", *code_cols)

    def search(
        self, query: list[float], k: int, nprobe: int = 2,
        candidates: DataFrame | None = None,
    ) -> DataFrame:
        """Index-served single-query ANN: probe cells are hive partition
        dirs, so the scan reads nprobe/k of the index. ``candidates``
        optionally narrows the served frame (e.g. exclude the query's own
        row) — it must be a filter of :meth:`vectors`."""
        served = candidates if candidates is not None else self.vectors()
        return search(
            served, self.codebook(), query, k, nprobe=nprobe,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    def adc_search(
        self, query: list[float], k: int, nprobe: int = 2,
        candidates: DataFrame | None = None,
    ) -> DataFrame:
        """Index-served IVF-PQ ANN (Jégou et al. 2011): the query's
        ``nprobe`` nearest cells are picked driver-side against the k-row
        codebook, the scan reads ONLY those cells' (id, code_*) columns —
        partition-pruned on cell AND column-pruned of raw vectors — and
        ADC ranks candidates by m table lookups per row. ``candidates``
        optionally narrows the served frame; it must be a filter of
        :meth:`codes`. Returns (id, adc_dist) ascending, k rows."""
        from affinity_spark.operators.pq import adc_search as pq_adc

        codebook = self.codebook()

        def sqd(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        order = sorted(range(len(codebook)), key=lambda i: sqd(codebook[i], query))
        probes = order[:nprobe]
        served = candidates if candidates is not None else self.codes()
        probed = served.filter(F.col("cell").isin(probes))
        return pq_adc(
            probed, self.pq_codebooks(), query, k, id_col=self.id_col
        )

    def adc_batch_search(
        self, queries: DataFrame, k: int, nprobe: int = 2,
        qid_col: str = "qid", qvec_col: str = "qvec",
    ) -> DataFrame:
        """Batched index-served IVF-PQ: MANY queries in one pass over the
        probed cells' CODE columns (:meth:`adc_search` is the single-query
        probe; :meth:`batch_search` is the raw-vector variant). Per query,
        the nprobe nearest cells AND the m ADC distance tables are
        computed map-side on the (small) queries frame against the
        literal codebooks; the exploded (query, cell, tables) probe set
        BROADCASTS into one join with :meth:`codes` — only probed cells
        are scanned (partition-pruned), no raw vector is read anywhere,
        and each candidate costs m element_at lookups. Per-query top-k
        rides a rank window (WindowGroupLimit, never a global sort).
        Returns (qid, id, adc_dist, rnk), rnk 1..k ascending distance,
        ties by id."""
        from pyspark.sql import Window

        from affinity_spark.functions.text import let_bound
        from affinity_spark.operators.pq import query_distance_tables

        books = self.pq_codebooks()
        cents = self.codebook_lit()
        qv = F.col(qvec_col).cast("array<double>")
        dists = F.transform(cents, lambda c: sq_dist(qv, c))
        ranked_cells = let_bound(
            dists,
            lambda d: F.slice(
                F.array_sort(
                    F.zip_with(
                        d,
                        F.sequence(F.lit(0), F.size(d) - 1),
                        lambda dd, i: F.struct(dd.alias("d"), i.alias("c")),
                    )
                ),
                1,
                nprobe,
            ),
        )
        probes = queries.select(
            F.col(qid_col),
            *query_distance_tables(
                queries, books, qvec_col=qvec_col,
                book_lits=self.pq_book_lits(),
            ),
            F.explode(
                F.transform(ranked_cells, lambda s: s["c"])
            ).alias("cell"),
        )
        adc = None
        for s in range(self.pq_m):
            term = F.element_at(F.col(f"_t{s}"), F.col(f"code_{s}") + 1)
            adc = term if adc is None else adc + term
        scored = self.codes().join(F.broadcast(probes), "cell").select(
            F.col(qid_col), F.col(self.id_col), adc.alias("adc_dist")
        )
        w = Window.partitionBy(qid_col).orderBy(
            F.col("adc_dist").asc(), F.col(self.id_col).asc()
        )
        return scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= k
        )

    def batch_search(
        self, queries: DataFrame, k: int, nprobe: int = 2,
        qid_col: str = "qid", qvec_col: str = "qvec",
    ) -> DataFrame:
        """Index-served batched ANN (one pass over the probed cells for
        every query at once; per-query top-k via WindowGroupLimit)."""
        return batch_search(
            self.vectors(), self.codebook(), queries, k, nprobe=nprobe,
            id_col=self.id_col, vec_col=self.vec_col,
            qid_col=qid_col, qvec_col=qvec_col,
            cents_lit=self.codebook_lit(),
        )


# ---------------------------------------------------------------------------
# Process-local shared instances (one build per corpus per session, shared by
# every ANN query in the process — a deployment points at the maintained
# KeyedTables instead).
# ---------------------------------------------------------------------------

# (applicationId, corpus_key) -> (corpus fingerprint, index)
_SHARED: dict[tuple[str, str], tuple[str, IVFIndex]] = {}


def shared_ivf(
    spark: SparkSession,
    emb: DataFrame,
    corpus_key: str,
    k: int = 8,
    n_iter: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int | None = None,
    pq_k: int = 8,
) -> IVFIndex:
    """Build-once-per-process IVF index over ``emb``, keyed by
    (application id, corpus_key) with the physical corpus fingerprint in
    the value — a regenerated corpus at the same path rebuilds and evicts
    the superseded index instead of serving stale cells (the
    shared_postings contract)."""
    import shutil

    from affinity_spark.cache import temp_root
    from affinity_spark.operators.postings import _corpus_fingerprint

    key = (spark.sparkContext.applicationId, corpus_key)
    fp = _corpus_fingerprint(emb)
    cached = _SHARED.get(key)
    if cached is not None:
        cached_fp, idx = cached
        if (
            cached_fp == fp
            and idx.pq_m == pq_m
            and idx.pq_k == pq_k
            and idx.exists()
        ):
            return idx
        del _SHARED[key]
        shutil.rmtree(idx.path, ignore_errors=True)
    root = temp_root("affinity_ivf_")
    idx = IVFIndex(
        spark, root, id_col=id_col, vec_col=vec_col, pq_m=pq_m, pq_k=pq_k
    )
    idx.build(emb, k=k, n_iter=n_iter)
    _SHARED[key] = (fp, idx)
    return idx
