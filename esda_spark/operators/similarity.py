"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  block, JVM-side ``zip_with``/``aggregate`` dot products (sequential
  fold => deterministic), per-query ``row_number`` top-k.  The
  baseline every ANN variant is validated against.
- :func:`lsh_topk` — random-hyperplane LSH bucketing as the scale
  path: queries only score candidates sharing a signature-prefix
  bucket, trading recall for a ~buckets-fold scan reduction.  The
  hyperplanes derive from a seeded numpy RNG broadcast to a pandas
  UDF (Arrow-batched).
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


def _topk_with_ties(sims: np.ndarray, vec_ids: np.ndarray, kk: int) -> list:
    """Per-row column indices of the top-``kk`` by (sim desc, vec_id asc).

    Plain ``argpartition`` keeps an arbitrary subset when more than kk
    entries tie exactly at the cutoff sim, so the lowest-vec_id tie the
    final global window would select can be dropped — and in the
    bucketed kernel that makes results depend on ``n_buckets``.  Rows
    with no tie at the cutoff (the generic case) stay on the pure
    argpartition path; only tied rows pay the vec_id-ordered widening.
    """
    m, n = sims.shape
    if n <= kk:
        return [np.arange(n)] * m
    part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    kept = np.take_along_axis(sims, part, axis=1)
    thresh = kept.min(axis=1)
    tied_total = (sims == thresh[:, None]).sum(axis=1)
    tied_kept = (kept == thresh[:, None]).sum(axis=1)
    out = list(part)
    for qi in np.nonzero(tied_total > tied_kept)[0]:
        row = sims[qi]
        cols = part[qi]
        greater = cols[row[cols] > thresh[qi]]
        tied_all = np.nonzero(row == thresh[qi])[0]
        order = np.argsort(vec_ids[tied_all], kind="stable")
        out[qi] = np.concatenate(
            [greater, tied_all[order[: kk - len(greater)]]]
        )
    return out


def _ranked_topk(spark, qid: np.ndarray, vid: np.ndarray, sim: np.ndarray,
                 k: int) -> DataFrame:
    """(query_id, vec_id, rank, sim) from flat driver-side candidate
    arrays: per query the top ``k`` by (sim desc, vec_id asc) — the
    window every distributed top-k plan applies.  No candidates give
    a typed empty frame."""
    order = np.lexsort((vid, -sim, qid))
    qs = qid[order]
    starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    seg_len = np.diff(np.r_[starts, len(qs)])
    rank = np.arange(len(qs)) - np.repeat(starts, seg_len) + 1
    top = rank <= k
    sel = order[top]
    return spark.createDataFrame(
        pd.DataFrame({
            "query_id": qid[sel], "vec_id": vid[sel],
            "rank": rank[top].astype(np.int32), "sim": sim[sel],
        }),
        schema=_TOPK_SCHEMA,
    )


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
    corpus partition computes one BLAS (queries x rows) score matrix
    and emits only its local top-k per query, so the shuffle carries
    O(partitions * q * k) rows — the map-side-combine shape that holds
    at corpus sizes where the naive crossJoin's q*n rows would not.
    ``arrow=False`` keeps the pure-Catalyst higher-order-function
    formulation (the SQL-oracle-comparable reference path).

    Bound: the QUERY side is collected to the driver and broadcast
    (q * dim * 8 bytes — ~1 GB at q=1e6, dim=128), so this operator is
    for validation and moderate query batches.  A large-q workload
    should go through :func:`lsh_topk` (both sides stay distributed;
    only bucket-mates are scored).
    """
    if not arrow:
        q = F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("qv"),
            )
        )
        c = embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
        )
        scored = q.crossJoin(c).where(
            F.col("query_id") != F.col("vec_id")
        ).select(
            "query_id",
            "vec_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("sim"),
        )
        win = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim")
        )

    # one wave: the query collect and the corpus probe run concurrently
    # (an empty query side wastes the probe, bounded by ann_rows + 1)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).collect)
        f_e = pool.submit(gate.collect_if_fits, embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
        ), "ann_rows")
        qrows, emb_pdf = f_q.result(), f_e.result()
    spark = embeddings.sparkSession
    if not qrows:
        return _ranked_topk(spark, *_NO_PAIRS, k)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    if emb_pdf is not None and len(qids) * len(emb_pdf) <= 50_000_000:
        # in-core fast path: the query side is collected either way;
        # when the corpus also fits the gate, score the single (q, n)
        # BLAS matrix on the driver — same normalize, same dgemm
        # library, same (sim desc, vec_id asc) ranking — instead of a
        # Python-worker stage plus a window merge.
        if not len(emb_pdf):
            return _ranked_topk(spark, *_NO_PAIRS, k)
        cid = emb_pdf["vec_id"].to_numpy(np.int64)
        C = np.vstack(emb_pdf["cv"].to_numpy()).astype(np.float64)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        sims = Qn @ C.T
        qrow = np.repeat(np.arange(len(qids)), len(cid))
        crow = np.tile(np.arange(len(cid)), len(qids))
        keep = qids[qrow] != cid[crow]
        qrow, crow = qrow[keep], crow[keep]
        return _ranked_topk(spark, qids[qrow], cid[crow],
                            sims[qrow, crow], k)
    bc = spark.sparkContext.broadcast((qids, Qn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Qn_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.vstack(pdf[id_col + "_v"].to_numpy()).astype(np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            sims = Qn_ @ C.T                     # (q, rows)
            vec_ids = pdf["vid"].to_numpy(np.int64)
            kk = min(k + 1, sims.shape[1])       # +1 to survive self-drop
            part = _topk_with_ties(sims, vec_ids, kk)
            out_q, out_v, out_s = [], [], []
            for qi in range(len(qids_)):
                cols = part[qi]
                out_q.extend([qids_[qi]] * len(cols))
                out_v.extend(vec_ids[cols])
                out_s.extend(sims[qi, cols])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "sim": out_s}
            )

    prepared = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias(id_col + "_v")
    )
    scored = prepared.mapInPandas(
        score, schema="query_id long, vec_id long, sim double"
    ).where(F.col("query_id") != F.col("vec_id"))
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _blas_topk_scorer(kk_keep: int):
    """Cogroup kernel shared by :func:`cosine_topk_distributed` and
    :func:`ivf_topk`'s cogroup posture: one BLAS (queries x corpus
    slice) score matrix per group, local top-``kk_keep`` per query with
    the (sim desc, vec_id asc) tie-break the final window applies."""

    def score(key, cpdf: "pd.DataFrame", qpdf: "pd.DataFrame"):
        if len(cpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "sim": []})
        C = np.vstack(cpdf["cv"].to_numpy()).astype(np.float64)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        Q = np.vstack(qpdf["qv"].to_numpy()).astype(np.float64)
        Q /= np.linalg.norm(Q, axis=1, keepdims=True)
        sims = Q @ C.T
        vec_ids = cpdf["vec_id"].to_numpy(np.int64)
        qids = qpdf["query_id"].to_numpy(np.int64)
        kk = min(kk_keep, sims.shape[1])
        part = _topk_with_ties(sims, vec_ids, kk)
        out_q, out_v, out_s = [], [], []
        for qi in range(len(qids)):
            cols = part[qi]
            out_q.extend([qids[qi]] * len(cols))
            out_v.extend(vec_ids[cols])
            out_s.extend(sims[qi, cols])
        return pd.DataFrame(
            {"query_id": out_q, "vec_id": out_v, "sim": out_s}
        )

    return score


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

    Shape: the corpus hashes into ``n_buckets`` buckets; queries
    replicate once per bucket through a broadcast crossJoin of the tiny
    bucket-id range (shuffle volume q * n_buckets rows — choose
    n_buckets ~ cores so replication stays ~O(cluster), while each
    cogroup task's BLAS is (q, corpus/n_buckets)); each (corpus bucket,
    query block) cogroup emits its local top-(k+1) per query and a
    final per-query window merges bucket winners (n_buckets * q * (k+1)
    rows).  No driver-side collect of either side at any point; total
    flops identical to the broadcast path.  Results are exactly
    :func:`cosine_topk`'s (same float64 kernel, same (sim desc, vec_id)
    tie-break).
    """
    spark = embeddings.sparkSession
    nb = int(n_buckets or spark.sparkContext.defaultParallelism)
    score = _blas_topk_scorer(k + 1)  # +1 survives the self-match drop
    corp = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int").alias("cb"),
    )
    buckets = spark.range(nb).select(F.col("id").cast("int").alias("cb"))
    qrep = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).crossJoin(F.broadcast(buckets))

    scored = (
        corp.groupBy("cb")
        .cogroup(qrep.groupBy("cb"))
        .applyInPandas(score, schema="query_id long, vec_id long, sim double")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
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
    ``aggregate(zip_with(a, b, *), 0.0, acc + v)`` fold that the
    distributed scorer evaluates (0.0 + x0 == x0 exactly), unlike
    pairwise-summing np.sum.  Optional ``ai``/``bi`` row gathers are
    applied PER COLUMN so the working set stays (n,)-sized: a
    (n, dim) gather + cumsum allocated ~100 MB of fresh pages per
    call, which in the long-lived driver process measured 20-30x the
    standalone cost (allocator/page-fault churn, CPU time == wall)."""
    a0 = A[ai, 0] if ai is not None else A[:, 0]
    b0 = B[bi, 0] if bi is not None else B[:, 0]
    acc = a0 * b0
    for j in range(1, A.shape[1]):
        aj = A[ai, j] if ai is not None else A[:, j]
        bj = B[bi, j] if bi is not None else B[:, j]
        acc += aj * bj
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
    corpus row) pairs, self matches dropped, sims by the sequential
    fold the distributed scorers evaluate."""
    keep = qid[qrow] != cid[crow]
    qrow, crow = qrow[keep], crow[keep]
    if len(qrow) == 0:
        return _NO_PAIRS
    qn = np.sqrt(_seq_dot(Q, Q))
    cn = np.sqrt(_seq_dot(C, C))
    sim = _seq_dot(Q, C, qrow, crow) / (qn[qrow] * cn[crow])
    return qid[qrow], cid[crow], sim


def _lsh_topk_incore(emb_pdf, q_pdf, dim, num_planes, seed,
                     num_tables, multiprobe):
    """Driver-side LSH candidates over collected sides — identical
    draws, buckets, probes, candidate set and sims (sequential-fold
    arithmetic) as the distributed plan.  Returns flat (query_id,
    vec_id, sim) arrays for :func:`_ranked_topk`, in (query row, corpus
    row) order.

    All tables share one sorted key array: a corpus row's key in table
    t is ``t << num_planes | bucket`` (buckets are below
    ``2**num_planes``), and every exact or Hamming-1 probe of a query
    carries its table the same way, so one ``searchsorted`` pair finds
    every bucket mate.  The cross-table and cross-probe duplicates go
    with a 1-D ``np.unique`` on the packed pair key ``qrow * len(C) +
    crow``, which sorts like (qrow, crow).  The key uses row positions,
    not ids; both sides are below the ``ann_rows`` gate (200k rows), so
    it stays below 4e10, far inside int64."""
    if not len(emb_pdf) or not len(q_pdf):
        return _NO_PAIRS
    cid = emb_pdf["vec_id"].to_numpy(np.int64)
    C = np.vstack(emb_pdf["cv"].to_numpy()).astype(np.float64)
    qid = q_pdf["query_id"].to_numpy(np.int64)
    Q = np.vstack(q_pdf["qv"].to_numpy()).astype(np.float64)
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
    growing the corpus index at all — only the tiny broadcast query
    side fans out (x ``1 + num_planes`` probe rows per table).  This
    is the standard multi-probe LSH trade (Lv et al., VLDB 2007):
    candidate volume grows ~(1 + planes * p_neighbor_flip) while
    recall compounds across probes AND tables.  ``multiprobe=0``
    restores exact-bucket probing.

    ``num_planes=None`` (default) sizes the signature from the corpus
    count via :func:`auto_num_planes` (~25 vectors/bucket) — the
    setting the measured recall table in BASELINE.md shows ≥ 0.9
    recall@10 on clustered corpora without hand-tuning.
    """
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1 (Hamming probe radius)")
    # in-core fast path: both sides collected, identical draws/buckets/
    # probes/candidate set, sims via the sequential fold, same ranking
    # — two limit probes instead of ~6 jobs of Python-stage and
    # broadcast latency.  A probe beats count + toPandas: 2k 64-dim
    # vectors collect in 49 ms (min) against 109 ms on a 4-core
    # local[4] session (see plans/gate.py).
    sides = _incore_sides(embeddings, queries, id_col, vec_col,
                          query_id_col)
    if sides is not None:
        emb_pdf, q_pdf = sides
        np_planes = (num_planes if num_planes is not None
                     else auto_num_planes(
                         n_corpus if n_corpus is not None
                         else len(emb_pdf)))
        cands = _lsh_topk_incore(
            emb_pdf, q_pdf, dim, np_planes, seed, num_tables, multiprobe,
        )
        return _ranked_topk(embeddings.sparkSession, *cands, k)
    if num_planes is None:
        # auto-sizing needs the corpus count; callers that know it pass
        # n_corpus and skip the count job (ADVICE r5)
        num_planes = auto_num_planes(
            n_corpus if n_corpus is not None else embeddings.count()
        )
    query_sig = hyperplane_signatures(
        queries.select(F.col(query_id_col).alias("vec_id"),
                       F.col(vec_col)),
        dim, num_planes, seed, "vec_id", vec_col, num_tables,
    ).withColumnRenamed("vec_id", "query_id")
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
              for j in range(num_planes)],
        )
        query_sig = query_sig.select(
            "query_id", "table", F.explode(probes).alias("bucket")
        )
    corpus_sig = hyperplane_signatures(
        embeddings, dim, num_planes, seed, id_col, vec_col, num_tables
    )
    # candidate generation and the cross-table dedup run on ID PAIRS
    # only; the embedding arrays attach AFTERWARDS, so the dedup and
    # ranking exchanges carry 16-byte rows instead of ~1 KB rows with
    # both vectors (guide §2.3: shuffle keys, not payloads).  Norms
    # are evaluated once per source vector; sim is bit-identical to
    # the former per-candidate folds (same fold, same operands, same
    # qn*cn order).
    cand = (
        F.broadcast(query_sig).join(corpus_sig, ["table", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])  # union across tables
    )
    qmap = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    cmap = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(qmap), "query_id")
        .join(cmap, "vec_id")
        .select(
            "query_id", "vec_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
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
    C = np.array([np.asarray(r[0], dtype=np.float64) for r in sample[:k]])
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    dim = C.shape[1]

    prepared = embeddings.select(F.col(vec_col).alias("_v"))
    for _ in range(max_iters):
        bc = spark.sparkContext.broadcast(C)

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                X /= np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
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


def _ivf_topk_incore(emb_pdf, q_pdf, Cn, nprobe):
    """Driver-side IVF candidates — identical assignment/probe/sim
    arithmetic as the distributed plan (see ivf_topk).  Returns flat
    (query_id, vec_id, sim) arrays for :func:`_ranked_topk`."""
    if not len(emb_pdf) or not len(q_pdf):
        return _NO_PAIRS
    cid = emb_pdf["vec_id"].to_numpy(np.int64)
    C = np.vstack(emb_pdf["cv"].to_numpy()).astype(np.float64)
    Xn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    lists = np.argmax(Xn @ Cn.T, axis=1)
    qid = q_pdf["query_id"].to_numpy(np.int64)
    Q = np.vstack(q_pdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probes = np.argsort(-(Qn @ Cn.T), axis=1)[:, :nprobe]
    order = np.argsort(lists, kind="stable")
    probe, pos = _bucket_members(lists[order], probes.ravel())
    return _pair_sims(qid, Q, cid, C, probe // probes.shape[1], order[pos])


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centers: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    mode: str = "auto",
    broadcast_max_probe_rows: int = 1_000_000,
) -> DataFrame:
    """(query_id, vec_id, rank, sim): IVF approximate top-k — the
    second ANN scale path next to :func:`lsh_topk`.

    The corpus is assigned once to its nearest k-means centroid (the
    inverted lists); each query probes its ``nprobe`` closest
    centroids and scores ONLY those lists' members.

    mode="broadcast": probe rows (q * nprobe, with full query vectors)
    broadcast-join the corpus on list id — lowest latency, bounded by
    the broadcast size at millions of queries.
    mode="cogroup": the large-q posture — probes stay distributed and
    each inverted list cogroups with its probing queries (one BLAS per
    list, local top-(k+1), final per-query window merge), exactly
    :func:`cosine_topk_distributed`'s shape keyed by list id instead
    of a hash bucket.  No collect or broadcast of either side.
    mode="auto" (default) picks cogroup once q * nprobe exceeds
    ``broadcast_max_probe_rows``.

    Expected candidate volume ~ n * nprobe / k_lists per query either
    way; skewed lists (dense regions) are handled by AQE skew-join
    like any other hot key.
    """
    if mode not in ("auto", "broadcast", "cogroup"):
        raise ValueError(f"unknown ivf_topk mode {mode!r}")
    spark = embeddings.sparkSession
    Cn = centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
    )
    # in-core fast path: same centroid assignment (argmax of the
    # identical normalized matmul), same probe selection, sims via the
    # sequential fold, same ranking — two limit probes instead of two
    # Python stages, the auto-mode count job, a join and a window.
    sides = (_incore_sides(embeddings, queries, id_col, vec_col,
                           query_id_col)
             if mode in ("auto", "broadcast") else None)
    if sides is not None:
        return _ranked_topk(spark, *_ivf_topk_incore(*sides, Cn, nprobe), k)
    bc = spark.sparkContext.broadcast(Cn)

    def assign_corpus(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-12)
            yield pd.DataFrame({
                "vec_id": pdf["_id"].to_numpy(),
                "list_id": np.argmax(Xn @ C_.T, axis=1),
                "cv": pdf["_v"].to_numpy(),
            })

    def assign_queries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-12)
            probes = np.argsort(-(Xn @ C_.T), axis=1)[:, :nprobe]
            ids = pdf["_id"].to_numpy()
            yield pd.DataFrame({
                "query_id": np.repeat(ids, probes.shape[1]),
                "list_id": probes.ravel(),
                "qv": np.repeat(pdf["_v"].to_numpy(), probes.shape[1]),
            })

    vec_t = "array<double>"
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(
        assign_corpus, schema=f"vec_id long, list_id long, cv {vec_t}"
    )
    qprobes = queries.select(
        F.col(query_id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(
        assign_queries, schema=f"query_id long, list_id long, qv {vec_t}"
    )
    if mode == "auto":
        q_count = queries.count()
        mode = ("broadcast"
                if q_count * nprobe <= broadcast_max_probe_rows
                else "cogroup")
    if mode == "broadcast":
        # per-source-row norms (same Catalyst fold, evaluated once per
        # corpus/probe row instead of once per candidate; sim values
        # bit-identical)
        scored = (
            F.broadcast(qprobes.withColumn("qn", _norm(F.col("qv"))))
            .join(corpus.withColumn("cn", _norm(F.col("cv"))), "list_id")
            .where(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id", "vec_id",
                (_dot(F.col("qv"), F.col("cv"))
                 / (F.col("qn") * F.col("cn"))).alias("sim"),
            )
            .dropDuplicates(["query_id", "vec_id"])
        )
    else:
        # each corpus vector lives in exactly one list, so (query, vec)
        # pairs are unique across the nprobe lists — no dedup needed
        scored = (
            corpus.groupBy("list_id")
            .cogroup(qprobes.groupBy("list_id"))
            .applyInPandas(
                _blas_topk_scorer(k + 1),
                schema="query_id long, vec_id long, sim double",
            )
            .where(F.col("query_id") != F.col("vec_id"))
        )
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


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
            pairs = np.unique(
                cand_pdf[["vec_a", "vec_b"]].to_numpy(np.int64), axis=0
            )
            ua, va = pairs[:, 0], pairs[:, 1]
            keep = np.zeros(len(ua), dtype=bool)
            if len(ua):
                cid_df = spark.createDataFrame(
                    pd.DataFrame({"vec_id": np.unique(np.r_[ua, va])}),
                    "vec_id long",
                )
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
