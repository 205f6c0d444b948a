import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_h60_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "the quick brown fox", "", "ünïcode", "a b  c"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", tx.h60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.sql(
            "select cast(md5_number_lower(?) >> 4 as bigint)", params=[v]
        ).fetchone()[0]
        assert got[v] == want, v


def test_exact_dedup(spark):
    rows = [(0, "aa"), (1, "bb"), (2, "aa"), (3, "cc"), (4, "aa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r.keeper: r.dup_count for r in tx.exact_dedup_groups(df).collect()}
    assert groups == {0: 3, 1: 1, 3: 1}


def test_shingles_and_minhash(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the cat sat on the hat"),
         (2, "completely different words here")],
        "doc_id long, text string",
    )
    sh = df.select(
        tx.shingles_col(F.col("text"), 3).alias("s")
    ).collect()[0].s
    assert "the cat sat" in sh and "cat sat on" in sh
    sig = tx.minhash_signatures(df, num_hashes=8).orderBy("doc_id").collect()
    s0 = np.array([getattr(sig[0], f"h{i}") for i in range(8)])
    s1 = np.array([getattr(sig[1], f"h{i}") for i in range(8)])
    s2 = np.array([getattr(sig[2], f"h{i}") for i in range(8)])
    # near-dups agree on more minhashes than unrelated docs
    assert (s0 == s1).sum() > (s0 == s2).sum()


def _ref_shingles(text, n):
    import re

    if text is None:
        return []
    toks = [t for t in re.split(tx.TOKEN_SPLIT, text.lower()) if t]
    grams = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
    return list(dict.fromkeys(grams))


def test_shingles_col_long_and_degenerate_docs(spark):
    # 300-token docs with repeated windows: the distinct shingles in
    # first-occurrence order; null, "" and 2-token docs give []
    rng = np.random.default_rng(4)
    rows = [(i, " ".join(f"w{v}" for v in rng.integers(0, 40, 300)))
            for i in range(6)]
    rows += [(6, None), (7, ""), (8, "two tokens"), (9, "Three TOKENS here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 3, 5):
        got = {r.doc_id: r.s for r in df.select(
            "doc_id", tx.shingles_col(F.col("text"), n).alias("s")).collect()}
        for did, text in rows:
            assert got[did] == _ref_shingles(text, n), (n, did)
        if n == 3:
            assert [got[d] for d in (6, 7, 8, 9)] == [
                [], [], [], ["three tokens here"]]


SALTED = ["", "the cat sat", "a b  c", "ünïcode", "Straße İstanbul ǅ K",
          "w1 w2 w3 w4 w5 w6 w7 w8"]


def test_minhash_salted_hash_matches_h60_and_duckdb(spark, monkeypatch):
    import duckdb

    salts = [f"#{i}".encode() for i in range(16)]
    df = spark.createDataFrame([(v,) for v in SALTED], "s string")
    spark_h = {r.s: r.h for r in df.select("s", F.array(*[
        tx.h60(F.concat(F.col("s"), F.lit(f"#{i}"))) for i in range(16)
    ]).alias("h")).collect()}
    con = duckdb.connect()
    for sh in SALTED:
        got = tx.minhash([sh], salts).tolist()
        duck = [con.sql("select cast(md5_number_lower(? || ?) >> 4 as bigint)",
                        params=[sh, f"#{i}"]).fetchone()[0] for i in range(16)]
        assert got == spark_h[sh] == duck, sh
    # a set of shingles takes the per-salt minimum, also across chunks
    want = np.min([spark_h[sh] for sh in SALTED], 0).tolist()
    assert tx.minhash(SALTED, salts).tolist() == want
    monkeypatch.setattr(tx, "_MINHASH_CHUNK", 4)
    assert tx.minhash(SALTED, salts).tolist() == want


MINHASH_DOCS = [
    (0, ""), (1, None), (2, "one"), (3, "one two"), (4, "a b c d e"),
    (5, "a b c a b c a b c a b"), (6, "Straße İstanbul ǅ K gut"),
    (7, "the cat sat on the mat"), (8, "x y z"), (9, "one two three four"),
]


@pytest.mark.parametrize("num_hashes", [1, 8, 16])
@pytest.mark.parametrize("shingle_n", [1, 3, 5])
def test_minhash_signatures_match_explode_reference(spark, num_hashes,
                                                    shingle_n):
    # the reference is the explode + min(h60) aggregate; two-row Arrow
    # batches over one partition run the kernel on several batches
    df = spark.createDataFrame(MINHASH_DOCS, "doc_id long, text string")
    sh = df.select("doc_id", F.explode(
        tx.shingles_col(F.col("text"), shingle_n)).alias("sh"))
    ref = sh.groupBy("doc_id").agg(*[
        F.min(tx.h60(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(num_hashes)
    ])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = tx.minhash_signatures(df.coalesce(1), num_hashes=num_hashes,
                                    shingle_n=shingle_n)
        rows = sorted(tuple(r) for r in got.collect())
    finally:
        spark.conf.set(key, prev)
    assert got.schema == ref.schema
    assert rows == sorted(tuple(r) for r in ref.collect())
    assert {r[0] for r in rows} == {
        d for d, t in MINHASH_DOCS if len(_ref_shingles(t, shingle_n))}


def test_minhash_signatures_keep_id_type(spark):
    df = spark.createDataFrame(MINHASH_DOCS, "doc_id int, text string")
    sig = tx.minhash_signatures(df, num_hashes=4)
    assert sig.dtypes == [("doc_id", "int")] + [(f"h{i}", "bigint")
                                                 for i in range(4)]
    as_long = tx.minhash_signatures(
        df.withColumn("doc_id", F.col("doc_id").cast("long")), num_hashes=4)
    assert sorted(map(tuple, sig.collect())) == sorted(
        map(tuple, as_long.collect()))


def test_lsh_and_jaccard(spark):
    base = "word%d " * 30
    rows = [
        (0, base % tuple(range(30))),
        (1, base % tuple(range(30))),          # exact dup of 0
        (2, base % tuple(list(range(29)) + [99])),  # near dup
        (3, " ".join(f"other{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = tx.minhash_signatures(df, num_hashes=16)
    pairs = tx.lsh_candidate_pairs(sig, num_hashes=16, bands=4)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 3) not in got and (1, 3) not in got
    jac = tx.ngram_jaccard_pairs(df, pairs)
    jmap = {(r.doc_a, r.doc_b): r.jaccard for r in jac.collect()}
    assert jmap[(0, 1)] == pytest.approx(1.0)
    if (0, 2) in jmap:
        assert 0.5 < jmap[(0, 2)] < 1.0


def test_minhash_dedup_groups(spark):
    base = "word%d " * 40
    rows = [
        (0, base % tuple(range(40))),
        (1, base % tuple(range(40))),               # exact dup of 0
        (2, base % tuple(list(range(39)) + [99])),  # near dup of 0/1
        (3, " ".join(f"other{i}" for i in range(40))),
        (4, " ".join(f"misc{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.group_id, r.is_canonical) for r in
           tx.minhash_dedup_groups(df, threshold=0.8).collect()}
    assert len(got) == 5  # singletons included
    assert got[0] == (0, 1)
    assert got[1] == (0, 0)
    assert got[3] == (3, 1) and got[4] == (4, 1)
    # doc 2 shares 38/41 shingles with 0 (jaccard ~0.86): transitively
    # grouped with the exact-dup pair under one canonical id
    assert got[2] == (0, 0)


def test_short_documents(spark, monkeypatch):
    # fewer than 3 tokens (empty text included): no shingles, no
    # signature, and a singleton group on both sides of the gate
    from esda_spark.plans import gate

    words = " ".join(f"w{i}" for i in range(12))
    rows = [(0, ""), (1, "hi there"), (2, words), (3, words),
            (4, "alpha beta gamma delta"), (5, "yo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = tx.minhash_signatures(df, num_hashes=8).collect()
    assert {r.doc_id for r in sig} == {2, 3, 4}
    for limit in (0, 10**9):
        monkeypatch.setitem(gate.LIMITS, "dedup_pairs", limit)
        got = {r.doc_id: (r.group_id, r.is_canonical)
               for r in tx.minhash_dedup_groups(df).collect()}
        assert got == {0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (2, 0),
                       4: (4, 1), 5: (5, 1)}, limit


def test_ngram_jaccard_drops_disjoint_pairs(spark):
    rows = [(2, "a b c d e"), (3, "f g h i j"), (4, "a b c d f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(2, 3), (2, 4)], "doc_a long, doc_b long")
    got = [tuple(r) for r in tx.ngram_jaccard_pairs(df, pairs).collect()]
    # {abc, bcd, cde} vs {abc, bcd, cdf}: 2 shared of 4
    assert got == [(2, 4, 0.5)]


def test_simhash_near_dup_property(spark):
    rows = [
        (0, " ".join(f"tok{i}" for i in range(50))),
        (1, " ".join(f"tok{i}" for i in range(49)) + " changed"),
        (2, " ".join(f"zzz{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in tx.simhash_signatures(df).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sig[0], sig[1]) < ham(sig[0], sig[2])
    assert all(0 <= v < (1 << 60) for v in sig.values())


def test_lang_id_and_quality_and_tokens(spark):
    rows = [
        (0, "the cat and the dog went to the park in the morning"),
        (1, "der Hund und die Katze sind nicht in das Haus"),
        (2, "le chat et la souris dans les maisons des villes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    langs = {r.doc_id: r.pred_lang for r in tx.lang_id(df).collect()}
    assert langs == {0: "en", 1: "de", 2: "fr"}
    q = tx.quality_score(df).orderBy("doc_id").collect()
    assert all(0 <= r.quality <= 1 for r in q)
    t = tx.token_counts(df).orderBy("doc_id").collect()
    assert t[0].ws_tokens == 12
    fp = tx.fingerprint(df).collect()
    assert len({r.fp for r in fp}) == 3


def test_text_ops_on_testdata(docs):
    n = docs.count()
    assert tx.exact_dedup_groups(docs).count() <= n
    qs = tx.quality_score(docs)
    assert qs.count() == n
    assert tx.token_counts(docs).where(F.col("ws_tokens") <= 0).count() == 0


def _py_h60(s: str) -> int:
    import hashlib

    d = hashlib.md5(s.encode()).hexdigest()
    rev = "".join(d[30 - 2 * i : 32 - 2 * i] for i in range(8))
    return int(rev[:15], 16)


def test_simhash_long_doc_wide_lane(spark):
    # >= 65,536 tokens overflows a 16-bit lane; the wide (32-bit) route
    # must still produce the exact majority-vote signature.  66,100
    # copies of one token dominate every bit, so the signature equals
    # that token's own 60-bit hash.
    long_text = " ".join(["aaa"] * 66_000 + [f"filler{i}" for i in range(100)])
    short_text = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame(
        [(0, long_text), (1, short_text)], "doc_id long, text string"
    )
    sig = {r.doc_id: r.simhash for r in tx.simhash_signatures(df).collect()}
    assert len(sig) == 2
    assert sig[0] == _py_h60("aaa")
    # and the narrow/wide lane variants agree on any sub-threshold doc
    from esda_spark.operators.text import _simhash_lanes, tokens_col

    base = df.select(
        "doc_id", tokens_col(F.col("text")).alias("_toks")
    ).where(F.col("doc_id") == 1)
    narrow = _simhash_lanes(base, 60, 16).collect()[0].simhash
    wide = _simhash_lanes(base, 60, 32).collect()[0].simhash
    assert narrow == wide == sig[1]


def test_paragraph_dedup_first_occurrence_semantics(spark):
    docs = spark.createDataFrame(
        [
            (0, "Alpha beta.\n\nShared para.\n\nGamma."),
            (1, "Shared para.\n\nDelta."),
            (2, "shared PARA.\n\nAlpha beta."),  # casing still dedups
            (3, ""),
            (4, "X.\n\nX."),  # within-doc repeat
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_paragraphs, r.n_kept, r.text_dedup)
        for r in tx.paragraph_dedup(docs).collect()
    }
    assert got[0] == (3, 3, "Alpha beta.\n\nShared para.\n\nGamma.")
    assert got[1] == (2, 1, "Delta.")
    assert got[2] == (2, 0, "")
    assert got[3] == (0, 0, "")
    assert got[4] == (2, 1, "X.")


def test_paragraph_dedup_matches_reference_on_random_corpora(spark):
    # pure-python reference: corpus-wide first occurrence by
    # (doc_id, idx) of the lower/trim key, in-order reconstruction
    def ref(docs):
        # enumerate the FILTERED sequence — blank entries never become
        # paragraphs, so positions must be counted after filtering
        first = {}
        for did in sorted(docs):
            paras = [p for p in docs[did] if p.strip()]
            for idx, p in enumerate(paras):
                first.setdefault(p.strip().lower(), (did, idx))
        out = {}
        for did in docs:
            paras = [p for p in docs[did] if p.strip()]
            kept = [
                p for idx, p in enumerate(paras)
                if first[p.strip().lower()] == (did, idx)
            ]
            out[did] = (len(paras), len(kept), "\n\n".join(kept))
        return out

    for seed in (3, 17, 91):
        rng = np.random.default_rng(seed)
        vocab = [f"para {i} words" for i in range(12)] + ["  ", ""]
        docs = {
            did: [vocab[i] for i in rng.integers(0, len(vocab), size=rng.integers(1, 9))]
            for did in range(30)
        }
        sdf = spark.createDataFrame(
            [(did, "\n\n".join(ps)) for did, ps in docs.items()],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_paragraphs, r.n_kept, r.text_dedup)
            for r in tx.paragraph_dedup(sdf).collect()
        }
        want = ref(docs)
        # empty-only docs produce text "" -> 0 paragraphs either way
        for did in docs:
            assert got[did] == want[did], (seed, did, got[did], want[did])
