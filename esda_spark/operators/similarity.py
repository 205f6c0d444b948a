"""Similarity search over embedding columns (array<float>).

Every top-k operator returns (query_id, vec_id, rank, sim): per query
the ``k`` best candidates by (sim desc, vec_id asc), self matches
dropped.  A pair whose sim is not finite (a zero-norm vector) is never
a candidate, so no NaN reaches a ranking (numpy orders NaN last,
Spark's window first).  Each operator has ONE numpy kernel that turns
a block of corpus rows and a block of query rows into flat (query_id,
vec_id, sim) candidates:

- :func:`cosine_topk` / :func:`cosine_topk_distributed` — exact: one
  BLAS cosine matrix per block (:func:`_cosine_pairs`).
- :func:`lsh_topk` — OR-amplified random-hyperplane LSH with Hamming-1
  multiprobe: only (table, bucket) mates are scored
  (:func:`_lsh_topk_incore`).
- :func:`ivf_topk` — inverted lists over k-means centroids
  (:func:`kmeans_fit`): a query scores the members of its ``nprobe``
  nearest lists.

Below the ``ann_rows`` gate both sides are collected and the kernel
runs once on the driver (:func:`_ranked_topk`).  Above it the kernel
runs once per cogroup slice (:func:`_cogroup_topk`): the corpus is
hash-sliced by vec_id with the queries replicated to every slice (LSH,
``cosine_topk_distributed``), or keyed by inverted list (IVF); each
slice keeps its local top-k and one ``row_number`` window merges them.
:func:`cosine_topk` instead broadcasts the query matrix to a
``mapInPandas`` over the corpus, which measured faster than the
cogroup shape (PLANS.md, Round 12).  LSH and IVF sims are a sequential
fold (:func:`_seq_dot`), elementwise, so a slice's sims equal the
in-core sims bit for bit; BLAS cosine sims can move in the last bits
with the matrix shape.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.plans import gate

_TOPK_SCHEMA = "query_id long, vec_id long, rank int, sim double"
_CAND_SCHEMA = "query_id long, vec_id long, sim double"
_NO_PAIRS = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _topk_rows(qid: np.ndarray, vid: np.ndarray, sim: np.ndarray, k: int):
    """(positions, rank) of each query's top ``k`` candidates by (sim
    desc, vec_id asc), query by query."""
    order = np.lexsort((vid, -sim, qid))
    qs = qid[order]
    starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    seg_len = np.diff(np.r_[starts, len(qs)])
    rank = np.arange(len(qs)) - np.repeat(starts, seg_len) + 1
    top = rank <= k
    return order[top], rank[top]


def _ranked_topk(spark, qid: np.ndarray, vid: np.ndarray, sim: np.ndarray,
                 k: int) -> DataFrame:
    """(query_id, vec_id, rank, sim) from flat driver-side candidate
    arrays: per query the top ``k`` by (sim desc, vec_id asc).  No
    candidates give a typed empty frame."""
    sel, rank = _topk_rows(qid, vid, sim, k)
    return spark.createDataFrame(
        pd.DataFrame({
            "query_id": qid[sel], "vec_id": vid[sel],
            "rank": rank.astype(np.int32), "sim": sim[sel],
        }),
        schema=_TOPK_SCHEMA,
    )


def _local_topk(cands, k: int) -> pd.DataFrame:
    """A block's flat candidates cut to each query's top ``k`` — every
    row the final window can rank — as a (query_id, vec_id, sim)
    frame."""
    qid, vid, sim = cands
    sel, _ = _topk_rows(qid, vid, sim, k)
    return pd.DataFrame(
        {"query_id": qid[sel], "vec_id": vid[sel], "sim": sim[sel]})


def _window_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per query the top ``k`` rows of ``scored`` by (sim desc, vec_id
    asc): the merge of the blocks' local top-k."""
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _cogroup_topk(corpus_keyed: DataFrame, queries_keyed: DataFrame,
                  pairs, k: int) -> DataFrame:
    """(query_id, vec_id, rank, sim) from a kernel run once per cogroup
    slice: the above-gate shape of every ANN top-k.

    ``corpus_keyed`` holds (key, vec_id, cv), ``queries_keyed`` (key,
    query_id, qv).  Each key's group calls ``pairs(cpdf, qpdf)``, which
    returns flat (query_id, vec_id, sim) arrays, self pairs dropped;
    the group keeps each query's local top-k by (sim desc, vec_id asc)
    and one ``row_number`` window merges the groups.  Exact as long as
    no (query, vec) pair is a candidate in two groups.

    A group is one pandas frame a side inside one Python worker: a key
    must hold a corpus slice (and query block) that fits a worker, as
    n / slices rows of a hash-sliced corpus do."""

    def score(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        both = len(cpdf) and len(qpdf)
        return _local_topk(pairs(cpdf, qpdf) if both else _NO_PAIRS, k)

    return _window_topk(
        corpus_keyed.groupBy("key").cogroup(queries_keyed.groupBy("key"))
        .applyInPandas(score, schema=_CAND_SCHEMA),
        k,
    )


def _hash_slices(embeddings, queries, nb, id_col, vec_col, query_id_col):
    """(corpus, queries) keyed for :func:`_cogroup_topk`: the corpus in
    ``nb`` slices by ``pmod(xxhash64(vec_id), nb)``, every query
    replicated once per slice (a broadcast crossJoin of the slice ids,
    q * nb shuffled rows)."""
    corpus = embeddings.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int").alias("key"),
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"),
    )
    keys = embeddings.sparkSession.range(nb).select(
        F.col("id").cast("int").alias("key"))
    return corpus, queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).crossJoin(F.broadcast(keys))


def _arrays(pdf: pd.DataFrame, id_col: str, vec_col: str):
    """(ids int64, (rows, dim) float64 matrix) of a non-empty frame."""
    return (pdf[id_col].to_numpy(np.int64),
            np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))


def _row_cut(sims, ok, k: int, slack: float = 0.0) -> np.ndarray:
    """Mask of the ``ok`` entries of a (queries x corpus rows) sim
    matrix at or above their row's k-th largest ``ok`` sim minus
    ``slack`` — ties included, so a (sim desc, vec_id asc) ranking
    sees every tie at the cutoff.  Sets the other entries to -inf."""
    kk = min(k, sims.shape[1])
    if kk == 0:
        return np.zeros_like(ok)
    sims[~ok] = -np.inf
    cut = np.partition(sims, -kk, axis=1)[:, -kk]
    return ok & (sims >= cut[:, None] - slack)


def _cosine_pairs(qid, Q, cid, C, k: int):
    """Flat (query_id, vec_id, sim) candidates of the exact cosine
    top-k over one (queries x corpus rows) block: one BLAS matrix of
    the normalized vectors, self pairs and non-finite sims dropped,
    each row cut by :func:`_row_cut`."""
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = ((Q / np.linalg.norm(Q, axis=1, keepdims=True))
                @ (C / np.linalg.norm(C, axis=1, keepdims=True)).T)
    ok = np.isfinite(sims) & (qid[:, None] != cid[None, :])
    qrow, crow = np.nonzero(_row_cut(sims, ok, k))
    return qid[qrow], cid[crow], sims[qrow, crow]


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    arrow: bool = True,
) -> DataFrame:
    """(query_id, vec_id, rank, sim): exact cosine top-k per query.

    Default path: broadcast the query matrix to an Arrow kernel; each
    corpus batch runs :func:`_cosine_pairs` and emits only its local
    top-k per query, so the shuffle carries O(batches * q * k) rows —
    the map-side-combine shape that holds at corpus sizes where the
    naive crossJoin's q*n rows would not.  When the corpus also fits
    the ``ann_rows`` gate, the same kernel runs once on the driver.
    ``arrow=False`` keeps the pure-Catalyst higher-order-function
    formulation (the SQL-oracle-comparable reference path).

    Bound: the QUERY side is collected to the driver and broadcast
    (q * dim * 8 bytes — ~1 GB at q=1e6, dim=128), so this operator is
    for validation and moderate query batches.  A large-q workload
    should go through :func:`cosine_topk_distributed` or
    :func:`lsh_topk` (both sides stay distributed).
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    qside = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    if not arrow:
        scored = F.broadcast(qside).crossJoin(corpus).where(
            F.col("query_id") != F.col("vec_id")
        ).select(
            "query_id",
            "vec_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("sim"),
        )
        return _window_topk(scored, k)

    # one wave: the query collect and the corpus probe run concurrently
    # (an empty query side wastes the probe, bounded by ann_rows + 1)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(qside.toPandas)
        f_e = pool.submit(gate.collect_if_fits, corpus, "ann_rows")
        q_pdf, emb_pdf = f_q.result(), f_e.result()
    spark = embeddings.sparkSession
    if not len(q_pdf):
        return _ranked_topk(spark, *_NO_PAIRS, k)
    qids, Q = _arrays(q_pdf, "query_id", "qv")
    if emb_pdf is not None and len(qids) * len(emb_pdf) <= 50_000_000:
        # in-core: the query side is collected either way; when the
        # corpus also fits, one (q, n) block on the driver
        cands = (_cosine_pairs(qids, Q, *_arrays(emb_pdf, "vec_id", "cv"), k)
                 if len(emb_pdf) else _NO_PAIRS)
        return _ranked_topk(spark, *cands, k)
    bc = spark.sparkContext.broadcast((qids, Q))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Q_ = bc.value
        for pdf in batches:
            if len(pdf):
                yield _local_topk(_cosine_pairs(
                    qids_, Q_, *_arrays(pdf, "vec_id", "cv"), k), k)

    return _window_topk(corpus.mapInPandas(score, schema=_CAND_SCHEMA), k)


def cosine_topk_distributed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """(query_id, vec_id, rank, sim): exact cosine top-k with BOTH
    sides distributed — the large-q posture :func:`cosine_topk` (which
    collects + broadcasts the query matrix, ~1 GB at q=1e6 dim=128)
    explicitly does not cover.

    Shape: :func:`_cogroup_topk` over the corpus hashed into
    ``n_buckets`` slices (default: the default parallelism), queries
    replicated once per slice (shuffle volume q * n_buckets rows —
    choose n_buckets ~ cores so replication stays ~O(cluster), while
    each group's BLAS is (q, corpus/n_buckets)); each group emits its
    local top-k per query and a final per-query window merges them.
    No driver-side collect of either side; total flops identical to
    the broadcast path.  Results are :func:`cosine_topk`'s (same
    kernel, same (sim desc, vec_id) tie-break).
    """
    nb = int(n_buckets or embeddings.sparkSession.sparkContext
             .defaultParallelism)
    return _cogroup_topk(
        *_hash_slices(embeddings, queries, nb, id_col, vec_col,
                      query_id_col),
        lambda cpdf, qpdf: _cosine_pairs(*_arrays(qpdf, "query_id", "qv"),
                                         *_arrays(cpdf, "vec_id", "cv"), k),
        k,
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """(vec_id, table, bucket): sign-pattern bucket ids from seeded
    random hyperplanes (broadcast (tables*planes, dim) matrix, one
    Arrow pass).  ``num_tables > 1`` is OR-amplification: each table is
    an independent plane set; candidates union across tables, which
    trades candidate volume for recall without lengthening any single
    signature.  (Round-6 note: carrying the vectors back out of the
    kernel next to each bucket row was tried and measured 4x SLOWER
    than the vec_id equi-join it replaced — per-row array conversion
    at the Python->JVM Arrow boundary dwarfs a broadcast hash join.)"""
    planes = np.random.default_rng(seed).normal(
        size=(num_tables, num_planes, dim)
    )
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = bc.value
        t_n, p_n, _ = H.shape
        pows = (1 << np.arange(p_n)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            out_ids, out_tab, out_bkt = [], [], []
            for t in range(t_n):
                bits = (M @ H[t].T) > 0
                out_ids.append(ids)
                out_tab.append(np.full(len(ids), t, dtype=np.int64))
                out_bkt.append(bits @ pows)
            yield pd.DataFrame({
                "vec_id": np.concatenate(out_ids),
                "table": np.concatenate(out_tab),
                "bucket": np.concatenate(out_bkt),
            })

    return embeddings.select(id_col, vec_col).mapInPandas(
        sig, schema="vec_id long, table long, bucket long"
    )


def auto_num_planes(n_corpus: int, target_occupancy: int = 25) -> int:
    """Plane count giving ~``target_occupancy`` vectors per bucket
    (n / 2^planes ≈ target): the knob the measured recall table in
    BASELINE.md was built around (20k corpus -> 10 planes, 100k -> 12
    — both ≥ 0.97 recall@10 clustered with 8 tables + multiprobe).
    Clamped to [4, 30] so tiny corpora stay bucketed and the bucket id
    fits comfortably in an int64."""
    import math

    raw = math.ceil(math.log2(max(n_corpus, 2) / float(target_occupancy)))
    return int(min(max(raw, 4), 30))


def _seq_dot(A: np.ndarray, B: np.ndarray,
             ai: np.ndarray | None = None,
             bi: np.ndarray | None = None) -> np.ndarray:
    """Row-wise dot via a strict left-to-right column accumulation —
    bitwise identical to the Catalyst
    ``aggregate(zip_with(a, b, *), 0.0, acc + v)`` fold (0.0 + x0 ==
    x0 exactly), unlike pairwise-summing np.sum, and elementwise, so a
    row pair's dot does not depend on the block it is computed in.

    Optional ``ai``/``bi`` row gathers are applied PER COLUMN so the
    working set stays (n,)-sized: a (n, dim) gather + cumsum allocated
    ~100 MB of fresh pages per call, which in the long-lived driver
    process measured 20-30x the standalone cost (allocator/page-fault
    churn, CPU time == wall).  The columns come from transposed
    contiguous copies, so each gather reads one contiguous row instead
    of a stride-``dim`` column (27.5 ms against 43 ms on 94k pairs)."""
    At, Bt = np.ascontiguousarray(A.T), np.ascontiguousarray(B.T)

    def col(Mt, idx, j):
        return Mt[j] if idx is None else Mt[j, idx]

    acc = col(At, ai, 0) * col(Bt, bi, 0)
    for j in range(1, len(At)):
        acc += col(At, ai, j) * col(Bt, bi, j)
    return acc


def _incore_sides(embeddings, queries, id_col, vec_col, query_id_col):
    """(corpus, queries) as pandas frames — (vec_id, cv) and (query_id,
    qv) — when both fit the ``ann_rows`` gate, else None.

    One probe wave: both probes run concurrently, as the global
    statistics' ``_incore_arrays`` does.  When the corpus does not fit,
    the query probe was wasted work, bounded by ``ann_rows + 1`` rows."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_e = pool.submit(gate.collect_if_fits, embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
        ), "ann_rows")
        f_q = pool.submit(gate.collect_if_fits, queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ), "ann_rows")
        emb, q = f_e.result(), f_q.result()
    return None if emb is None or q is None else (emb, q)


def _bucket_members(keys: np.ndarray, probes: np.ndarray):
    """(probe, pos) for every member of every probe's bucket: ``pos``
    indexes the sorted ``keys`` whose value equals ``probes[probe]``.
    Rows come probe by probe, members in sorted-key order."""
    lo = np.searchsorted(keys, probes)
    cnt = np.searchsorted(keys, probes, side="right") - lo
    probe = np.repeat(np.arange(len(probes)), cnt)
    pos = np.arange(len(probe)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return probe, pos + lo[probe]


def _pair_sims(qid, Q, cid, C, qrow, crow):
    """Flat (query_id, vec_id, sim) arrays of the candidate (query row,
    corpus row) pairs by the sequential fold, self matches and
    non-finite sims (a zero-norm side) dropped."""
    keep = qid[qrow] != cid[crow]
    qrow, crow = qrow[keep], crow[keep]
    if len(qrow) == 0:
        return _NO_PAIRS
    qn = np.sqrt(_seq_dot(Q, Q))
    cn = np.sqrt(_seq_dot(C, C))
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = _seq_dot(Q, C, qrow, crow) / (qn[qrow] * cn[crow])
    ok = np.isfinite(sim)
    return qid[qrow[ok]], cid[crow[ok]], sim[ok]


def _lsh_topk_incore(emb_pdf, q_pdf, dim, num_planes, seed,
                     num_tables, multiprobe):
    """LSH candidates of a corpus block against a query block — the
    kernel of :func:`lsh_topk` in both regimes (the whole collected
    corpus on the driver, or one cogroup slice).  Returns flat
    (query_id, vec_id, sim) arrays in (query row, corpus row) order,
    sims by the sequential fold.  A pair's candidacy depends only on
    the two signatures, so disjoint corpus slices neither lose a pair
    nor duplicate one.

    All tables share one sorted key array: a corpus row's key in table
    t is ``t << num_planes | bucket`` (buckets are below
    ``2**num_planes``), and every exact or Hamming-1 probe of a query
    carries its table the same way, so one ``searchsorted`` pair finds
    every bucket mate.  The cross-table and cross-probe duplicates go
    with a 1-D ``np.unique`` on the packed pair key ``qrow * len(C) +
    crow``, which sorts like (qrow, crow).  The key uses row positions,
    not ids, so it is bounded by the block's query rows times its
    corpus rows — 4e10 at 200k a side, far inside int64."""
    if not len(emb_pdf) or not len(q_pdf):
        return _NO_PAIRS
    cid, C = _arrays(emb_pdf, "vec_id", "cv")
    qid, Q = _arrays(q_pdf, "query_id", "qv")
    H = np.random.default_rng(seed).normal(
        size=(num_tables, num_planes, dim)
    )
    pows = (1 << np.arange(num_planes)).astype(np.int64)
    flips = np.r_[0, pows] if multiprobe else np.zeros(1, np.int64)
    ckeys, pkeys = [], []
    for t in range(num_tables):
        cb = ((C @ H[t].T) > 0) @ pows
        qb = ((Q @ H[t].T) > 0) @ pows
        ckeys.append((t << num_planes) | cb)
        # table-major, then query, then flip
        pkeys.append(((t << num_planes) | (qb[:, None] ^ flips)).ravel())
    ckeys = np.concatenate(ckeys)
    order = np.argsort(ckeys)
    probe, pos = _bucket_members(ckeys[order], np.concatenate(pkeys))
    n = len(cid)
    qrow = probe % (len(qid) * len(flips)) // len(flips)
    P = np.unique(qrow * n + order[pos] % n)
    return _pair_sims(qid, Q, cid, C, P // n, P % n)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_tables: int = 4,
    multiprobe: int = 1,
    n_corpus: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing a (table,
    bucket) with the query in at least one of ``num_tables``
    independent hash tables (OR-amplified hyperplane LSH).

    ``multiprobe=1`` additionally probes every Hamming-distance-1
    bucket of each query signature (flip one plane's sign bit): a
    near-neighbor lost to one marginal hyperplane is recovered without
    growing the corpus index at all — only the query side fans out
    (x ``1 + num_planes`` probes per table).  This is the standard
    multi-probe LSH trade (Lv et al., VLDB 2007): candidate volume
    grows ~(1 + planes * p_neighbor_flip) while recall compounds
    across probes AND tables.  ``multiprobe=0`` restores exact-bucket
    probing.

    ``num_planes=None`` (default) sizes the signature from the corpus
    count via :func:`auto_num_planes` (~25 vectors/bucket) — the
    setting the measured recall table in BASELINE.md shows ≥ 0.9
    recall@10 on clustered corpora without hand-tuning.

    Below the ``ann_rows`` gate :func:`_lsh_topk_incore` runs once on
    the collected sides; above it, once per hash slice of the corpus
    against every query (:func:`_cogroup_topk`).  Both give the same
    rows.
    """
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1 (Hamming probe radius)")
    sides = _incore_sides(embeddings, queries, id_col, vec_col,
                          query_id_col)
    if num_planes is None:
        # auto-sizing needs the corpus count; callers that know it pass
        # n_corpus and skip the count job (ADVICE r5)
        if n_corpus is None:
            n_corpus = (len(sides[0]) if sides is not None
                        else embeddings.count())
        num_planes = auto_num_planes(n_corpus)

    def kernel(cpdf, qpdf):
        return _lsh_topk_incore(cpdf, qpdf, dim, num_planes, seed,
                                num_tables, multiprobe)

    spark = embeddings.sparkSession
    if sides is not None:
        return _ranked_topk(spark, *kernel(*sides), k)
    return _cogroup_topk(
        *_hash_slices(embeddings, queries,
                      spark.sparkContext.defaultParallelism,
                      id_col, vec_col, query_id_col),
        kernel, k,
    )


def recall_at_k(
    approx: DataFrame, exact: DataFrame, k: int,
    query_id_col: str = "query_id", id_col: str = "vec_id",
) -> float:
    """Mean recall@k of an approximate top-k result against the exact
    one: |approx_topk(q) ∩ exact_topk(q)| / k averaged over queries.

    Both inputs are (query_id, vec_id, rank, ...) as produced by
    :func:`cosine_topk` / :func:`lsh_topk`.  One inner join + two tiny
    aggregates — usable as a validation job next to any ANN index
    build (the LSH path's bucket count trades recall for candidate
    volume; this measures that trade).
    """
    a = approx.where(F.col("rank") <= k).select(
        F.col(query_id_col).alias("_q"), F.col(id_col).alias("_v")
    )
    e = exact.where(F.col("rank") <= k).select(
        F.col(query_id_col).alias("_q"), F.col(id_col).alias("_v")
    )
    hits = a.join(e, ["_q", "_v"], "left_semi").groupBy("_q").count()
    per_q = e.select("_q").distinct().join(hits, "_q", "left").select(
        F.coalesce(F.col("count"), F.lit(0)).alias("h")
    )
    row = per_q.agg(F.avg(F.col("h") / F.lit(float(k)))).collect()[0]
    return float(row[0]) if row[0] is not None else 0.0


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    mode: str = "lsh",
    dim: int | None = None,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, sim): embedding-cosine near-duplicate pairs
    (vec_a < vec_b, cosine >= threshold) — the embedding-space analogue
    of MinHash/SimHash dedup for a training-data pipeline.

    mode="lsh" (the scale path): candidates are pairs sharing a
    (table, bucket) in OR-amplified hyperplane LSH; only candidates pay
    the exact cosine.  True near-duplicates (cosine ~ 1) collide in a
    given table with probability (1 - theta/pi)^p ~ (1 - eps)^p, so a
    handful of tables gives near-perfect recall at high thresholds.
    mode="exact": all-pairs — O(n^2), for validation and small inputs
    only.
    """
    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    if mode == "exact":
        a = e.select(F.col("vec_id").alias("vec_a"),
                     F.col(vec_col).alias("va"),
                     _norm(F.col(vec_col)).alias("na"))
        b = e.select(F.col("vec_id").alias("vec_b"),
                     F.col(vec_col).alias("vb"),
                     _norm(F.col(vec_col)).alias("nb"))
        cand = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
        sim_expr = (_dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")))
        return (
            cand.withColumn("sim", sim_expr)
            .where(F.col("sim") >= threshold)
            .select("vec_a", "vec_b", "sim")
        )
    if dim is None:
        dim = len(e.select(vec_col).first()[0])
    sig = hyperplane_signatures(
        e, dim, num_planes, seed, "vec_id", vec_col, num_tables
    )
    keyed = e.join(sig, "vec_id")
    a = keyed.select(F.col("vec_id").alias("vec_a"),
                     F.col(vec_col).alias("va"), "table", "bucket")
    b = keyed.select(F.col("vec_id").alias("vec_b"),
                     F.col(vec_col).alias("vb"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sim_expr = (_dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))))
    return (
        cand.withColumn("sim", sim_expr)
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def _unit_rows(X: np.ndarray) -> np.ndarray:
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    max_iters: int = 10,
    seed: int = 42,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(k, dim) spherical k-means centroids by distributed Lloyd's:
    centers broadcast each iteration, assignment + per-center partial
    sums computed in ONE Arrow pass per partition (a BLAS scores
    matrix then bincount-style accumulation), reduced with a tiny
    groupBy — the classic Spark k-means shape.  Per-iteration shuffle
    is O(partitions * k * dim) partial sums, never O(n).

    Centers seed from a hash-sample of the corpus; empty clusters
    keep their previous center.  Returns L2-normalized centers (the
    coarse quantizer for :func:`ivf_topk`).
    """
    spark = embeddings.sparkSession
    sample = (
        embeddings.select(F.col(vec_col))
        .where(F.pmod(F.xxhash64(F.col(id_col)) + seed, 997) < 200)
        .limit(int(k))
        .collect()
    )
    if len(sample) < k:
        sample += embeddings.select(F.col(vec_col)).limit(
            k - len(sample)).collect()
    C = _unit_rows(np.array([np.asarray(r[0], dtype=np.float64)
                             for r in sample[:k]]))
    dim = C.shape[1]

    prepared = embeddings.select(F.col(vec_col).alias("_v"))
    for _ in range(max_iters):
        bc = spark.sparkContext.broadcast(C)

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = _unit_rows(
                    np.vstack(pdf["_v"].to_numpy()).astype(np.float64))
                a = np.argmax(X @ C_.T, axis=1)
                sums = np.zeros_like(C_)
                np.add.at(sums, a, X)
                cnt = np.bincount(a, minlength=len(C_)).astype(np.float64)
                nz = np.nonzero(cnt)[0]
                yield pd.DataFrame({
                    "c": nz,
                    "s": list(sums[nz]),
                    "n": cnt[nz],
                })

        partials = prepared.mapInPandas(
            partial, schema="c long, s array<double>, n double"
        )
        if dim <= 256:
            reduced = partials.groupBy("c").agg(
                F.array(*[
                    F.sum(F.col("s")[i]).alias(f"_{i}") for i in range(dim)
                ]).alias("s"),
                F.sum("n").alias("n"),
            )
        else:
            # wide embeddings: a dim-expression aggregate builds dim
            # Catalyst sums (plan-construction and codegen blow up past
            # ~1k dims) — reduce the per-center partials in one Arrow
            # kernel instead (input rows: one per (partition, center))
            def reduce_center(key, pdf: pd.DataFrame) -> pd.DataFrame:
                s = np.vstack(pdf["s"].to_numpy()).sum(axis=0)
                return pd.DataFrame(
                    {"c": [key[0]], "s": [s], "n": [float(pdf["n"].sum())]}
                )

            reduced = partials.groupBy("c").applyInPandas(
                reduce_center, schema="c long, s array<double>, n double"
            )
        rows = reduced.collect()
        newC = C.copy()
        for r in rows:
            if r.n > 0:
                v = np.asarray(r.s, dtype=np.float64) / r.n
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    newC[r.c] = v / nv
        shift = float(np.abs(newC - C).max())
        C = newC
        bc.destroy()
        if shift < tol:
            break
    return C


def _ivf_lists(X: np.ndarray, Cn: np.ndarray) -> np.ndarray:
    """Each row's inverted list: its nearest normalized centroid."""
    return np.argmax(_unit_rows(X) @ Cn.T, axis=1)


def _ivf_probes(Q: np.ndarray, Cn: np.ndarray, nprobe: int) -> np.ndarray:
    """(q, nprobe) lists each query probes, nearest first."""
    return np.argsort(-(_unit_rows(Q) @ Cn.T), axis=1)[:, :nprobe]


def _ivf_topk_incore(emb_pdf, q_pdf, Cn, nprobe):
    """Driver-side IVF candidates: flat (query_id, vec_id, sim) arrays
    for :func:`_ranked_topk`, every (query, member of a probed list)
    pair by :func:`_pair_sims`."""
    if not len(emb_pdf) or not len(q_pdf):
        return _NO_PAIRS
    cid, C = _arrays(emb_pdf, "vec_id", "cv")
    qid, Q = _arrays(q_pdf, "query_id", "qv")
    lists = _ivf_lists(C, Cn)
    probes = _ivf_probes(Q, Cn, nprobe)
    order = np.argsort(lists, kind="stable")
    probe, pos = _bucket_members(lists[order], probes.ravel())
    return _pair_sims(qid, Q, cid, C, probe // probes.shape[1], order[pos])


def _list_pairs(cpdf, qpdf, k: int):
    """Each probing query's top-k candidates among one inverted list's
    members (a cogroup slice), sims by :func:`_pair_sims` (the in-core
    fold, bit for bit).  Only the pairs within 1e-9 of their row's
    k-th largest BLAS sim (over the fold's norms) are refolded: both
    sims stay within (2 * dim + 4) * 2**-53 of the true cosine, so up
    to dim ~1e6 that keeps the folded top-k with its ties, while no
    nonzero norm leaves [1e-100, 1e100] (else every pair is)."""
    cid, C = _arrays(cpdf, "vec_id", "cv")
    qid, Q = _arrays(qpdf, "query_id", "qv")
    qn, cn = np.sqrt(_seq_dot(Q, Q)), np.sqrt(_seq_dot(C, C))
    keep = np.outer(qn > 0, cn > 0) & (qid[:, None] != cid[None, :])
    n = np.r_[qn, cn]
    if np.all((n == 0) | ((n >= 1e-100) & (n <= 1e100))):
        with np.errstate(divide="ignore", invalid="ignore"):
            keep = _row_cut((Q @ C.T) / np.outer(qn, cn), keep, k, 1e-9)
    return _pair_sims(qid, Q, cid, C, *np.nonzero(keep))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centers: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, rank, sim): IVF approximate top-k — the
    second ANN scale path next to :func:`lsh_topk`.

    The corpus is assigned once to its nearest k-means centroid (the
    inverted lists); each query probes its ``nprobe`` closest
    centroids and scores ONLY those lists' members.  Expected
    candidate volume ~ n * nprobe / k_lists per query.

    Below the ``ann_rows`` gate both sides are collected and scored on
    the driver.  Above it the corpus and the (query, probed list) rows
    are assigned per Arrow batch and cogrouped on list id
    (:func:`_cogroup_topk`): each list scores its members against its
    probing queries (:func:`_list_pairs`) — no collect or broadcast of
    either side.  A vector lives in one list, so no pair is scored
    twice.  Sims are the sequential fold on both sides of the gate;
    only a near-tie argmax of the per-batch BLAS assignment could move
    a vector to another list.  A list's (probing queries x members)
    sim matrix must fit a Python worker.
    """
    spark = embeddings.sparkSession
    Cn = _unit_rows(centers)
    sides = _incore_sides(embeddings, queries, id_col, vec_col,
                          query_id_col)
    if sides is not None:
        return _ranked_topk(spark, *_ivf_topk_incore(*sides, Cn, nprobe), k)
    bc = spark.sparkContext.broadcast(Cn)

    def assign_corpus(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame({
                    "key": _ivf_lists(_arrays(pdf, "vec_id", "cv")[1],
                                      bc.value),
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cv": pdf["cv"].to_numpy(),
                })

    def assign_queries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                probes = _ivf_probes(_arrays(pdf, "query_id", "qv")[1],
                                     bc.value, nprobe)
                yield pd.DataFrame({
                    "key": probes.ravel(),
                    "query_id": np.repeat(pdf["query_id"].to_numpy(),
                                          probes.shape[1]),
                    "qv": np.repeat(pdf["qv"].to_numpy(), probes.shape[1]),
                })

    vec_t = "array<double>"
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).mapInPandas(assign_corpus, schema=f"key long, vec_id long, cv {vec_t}")
    qprobes = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).mapInPandas(assign_queries,
                  schema=f"key long, query_id long, qv {vec_t}")
    return _cogroup_topk(corpus, qprobes,
                         lambda c, q: _list_pairs(c, q, k), k)


def near_dup_groups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    mode: str = "lsh",
    dim: int | None = None,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, group_id, is_canonical): transitive near-duplicate
    groups over embedding cosine — the grouping/canonical-selection
    step a dedup pipeline runs after pair finding (keep one document
    per group, drop the rest), as in SemDeDup-style embedding dedup.

    group_id = minimum vec_id reachable through pairs with cosine >=
    threshold (connected components of the near-dup graph; singletons
    are their own group).  is_canonical = 1 for the group minimum —
    ``where(is_canonical = 1)`` is the surviving corpus.

    Scale posture: pair finding is hyperplane-LSH bucketed (never
    all-pairs) and the closure is the distributed large-star/small-star
    contraction from ``operators.components`` — no driver-sized
    collects anywhere, so the whole pipeline holds at corpus scale.
    mode="exact" (all-pairs) exists for validation and small inputs.
    """
    from esda_spark.operators.components import (
        component_groups,
        connected_components,
        incore_groups,
    )

    spark = embeddings.sparkSession
    ids = embeddings.select(F.col(id_col).alias("vec_id"))
    if mode == "lsh":
        # in-core fast path (components-operator precedent): bucket
        # candidates are id pairs only (one signature materialization,
        # no embedding arrays through the self-join); the exact cosine
        # verify, the transitive closure and the canonical selection
        # run on the driver from two bounded collects.
        e = embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col))
        d = dim or len(e.select(vec_col).first()[0])
        sig = hyperplane_signatures(
            e, d, num_planes, seed, "vec_id", vec_col, num_tables
        ).localCheckpoint(eager=True)
        a = sig.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
        b = sig.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
        # raw bucket-pair rows (dups deduped driver-side — cheaper
        # than a distinct exchange; the gate bounds the collect at
        # num_tables x distinct pairs)
        cand_pdf = gate.collect_if_fits(
            a.join(b, ["table", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b"),
            "dedup_pairs",
            limit=gate.LIMITS["dedup_pairs"] * num_tables,
        )
        if cand_pdf is not None:
            # dedup on one packed key: ids ranked in their sorted union
            # u, rank(a) * len(u) + rank(b) sorts like (vec_a, vec_b)
            ab = cand_pdf[["vec_a", "vec_b"]].to_numpy(np.int64)
            u, inv = np.unique(ab.T.ravel(), return_inverse=True)
            P = np.unique(inv[:len(ab)] * len(u) + inv[len(ab):])
            ua, va = u[P // max(len(u), 1)], u[P % max(len(u), 1)]
            keep = np.zeros(len(ua), dtype=bool)
            if len(ua):
                cid_df = spark.createDataFrame(
                    pd.DataFrame({"vec_id": u}), "vec_id long")
                vec_pdf = e.join(F.broadcast(cid_df), "vec_id",
                                 "left_semi").toPandas()
                vid = vec_pdf["vec_id"].to_numpy(np.int64)
                V = np.vstack(vec_pdf[vec_col].to_numpy()).astype(
                    np.float64)
                V /= np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                )
                order = np.argsort(vid)
                vid, V = vid[order], V[order]
                # per-column accumulation: (n,)-sized temporaries (see
                # _seq_dot — large per-call gathers churn the allocator)
                keep = _seq_dot(V, V, np.searchsorted(vid, ua),
                                np.searchsorted(vid, va)) >= threshold
            return incore_groups(ids, ua[keep], va[keep])
        # gate exceeded: fall through to the distributed closure

    pairs = embedding_near_dup_pairs(
        embeddings, threshold=threshold, mode=mode, dim=dim,
        num_planes=num_planes, num_tables=num_tables, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    return component_groups(
        ids, connected_components(pairs, src="vec_a", dst="vec_b")
    )
