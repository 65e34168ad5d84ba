"""LSH hot-bucket guard and shingle-expression equivalence
(operators/dedup.py scale guards)."""

from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.operators.dedup import (
    minhash_lsh_pairs,
    word_sets,
)

SF001 = "/root/testdata/sf0.001/documents.parquet"


def _docs(spark):
    return spark.read.parquet(SF001)


def _dup_docs(spark):
    """A duplicate-heavy corpus: 21 distinct word sets over 73 docs, so
    the MinHash duplication gate picks the collapsed path. One hot
    cluster of 40 identical sets (word order varies; repeats change
    the SimHash fingerprint but not the set), 5 near-copies of it one
    word apart (J = 9/11), 5 texts three times each, 10 singletons, two
    empty texts and a NULL text."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = []
    for k in range(40):
        words = base[k % 10:] + base[:k % 10]
        texts.append(" ".join(words + words[:1] * (k % 3)))
    texts += [" ".join(base[:k] + [f"near{k}"] + base[k + 1:])
              for k in range(5)]
    texts += [f"red green blue w{k} x{k} y{k}" for k in range(5)] * 3
    texts += [f"solo{k} a{k} b{k} c{k}" for k in range(10)]
    texts += ["", "", None]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hot_bucket_cap_is_subset(spark):
    """Capped banding may only LOSE candidate pairs (recall trade-off),
    never invent them; verified output stays a subset."""
    docs = _docs(spark)
    full = {
        (r.i, r.j)
        for r in minhash_lsh_pairs(docs, 0.9, 16, 1).select("i", "j").collect()
    }
    capped = {
        (r.i, r.j)
        for r in minhash_lsh_pairs(docs, 0.9, 16, 1, max_bucket_size=3)
        .select("i", "j")
        .collect()
    }
    assert capped <= full


def test_simhash_pairs_hot_bucket_cap_is_subset(spark):
    """Same guard contract as the MinHash path: capping hot SimHash
    band buckets may only lose pairs, never invent or mis-rank them."""
    from tabular_data_semantics_py_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    full = {
        (r.i, r.j, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    capped = {
        (r.i, r.j, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3, max_bucket_size=2).collect()
    }
    assert capped <= full


def test_simhash_matches_scalar_reference(spark):
    """The vocab-vectorized SimHash equals the naive per-token scalar
    definition (bit b set iff ones*2 >= n over duplicated tokens),
    with token hashes from the independent pure-Python XXH64 mirror
    (bit-exactness vs F.xxhash64 asserted in test_xxh64)."""
    import pandas as pd

    from tabular_data_semantics_py_spark.functions.xxh64 import spark_xxhash64

    from tabular_data_semantics_py_spark.operators.dedup import simhash64

    texts = [
        "a b c a", "", "a", "x y z x y z", "the quick brown fox",
        "  leading  double\tand trailing ",  # tokenizer parity: \s+ runs
        # Java \s does NOT include U+00A0 (or U+2000..): the nbsp
        # stays INSIDE the token on both sides. Python str.split()
        # would split it — this case pins the scalar reference to the
        # Java class, not Python's.
        "nbsp\xa0joined plus normal",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {r.id: r.simhash for r in simhash64(df).collect()}

    def ref(t):
        import re

        # Java-\s-equivalent class — see _simhash_scalar_table
        toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", t) if w]
        if not toks:
            return 0
        hs = [spark_xxhash64(tok) & ((1 << 64) - 1) for tok in toks]
        v = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in hs)
            if ones * 2 >= len(toks):
                v |= 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v  # as signed int64

    for i, t in enumerate(texts):
        assert got[i] == ref(t), (i, t)


def test_shingle_expr_matches_python(spark):
    """arrays_zip shingling == the naive Python sliding window,
    including the partial trailing shingle for docs < ngram tokens."""
    rows = [
        ("a b c d e",),
        ("a b",),
        ("a",),
        ("x y z",),
    ]
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["text"]))
    df = df.withColumn("doc_id", F.monotonically_increasing_id())
    got = {
        tuple(sorted(r.words))
        for r in word_sets(df, ngram=3).collect()
    }

    def py_shingles(t):
        toks = t.split(" ")
        n = max(len(toks) - 2, 1)
        return sorted({
            "\x1f".join(toks[i:i + 3]) for i in range(n)
        })

    want = {tuple(py_shingles(t)) for (t,) in rows}
    assert got == want


def test_simhash_fold_both_paths_match_scalar(spark):
    """The fold picks bincount-GEMM when n_docs*k_distinct <=
    total_tokens (Zipf corpora) and a reduceat segmented sum
    otherwise; force each branch with a deterministic corpus and
    check both against the naive scalar definition.

    Zipf batch: 40 docs x 30 tokens from a 4-word vocab
    (40*4 = 160 <= 1200). Unique batch: 30 docs whose tokens are all
    globally distinct (30*k = total*30 > total)."""
    import pandas as pd

    from tabular_data_semantics_py_spark.functions.xxh64 import spark_xxhash64
    from tabular_data_semantics_py_spark.operators.dedup import simhash64

    vocab = ["alpha", "beta", "gamma", "delta"]
    zipf = [
        " ".join(vocab[(i * 7 + j) % 4] for j in range(30)) for i in range(40)
    ]
    uniq = [
        " ".join(f"tok{i}_{j}" for j in range(8)) for i in range(30)
    ]

    def ref(t):
        import re

        # Java-\s-equivalent class — see _simhash_scalar_table
        toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", t) if w]
        if not toks:
            return 0
        hs = [spark_xxhash64(tok) & ((1 << 64) - 1) for tok in toks]
        v = 0
        for b in range(64):
            if sum((h >> b) & 1 for h in hs) * 2 >= len(toks):
                v |= 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v

    for texts in (zipf, uniq):
        # coalesce(1): the whole corpus arrives as one Arrow batch, so
        # the branch predicate sees the intended n_docs/k/total shape
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        ).coalesce(1)
        got = {r.id: r.simhash for r in simhash64(df).collect()}
        for i, t in enumerate(texts):
            assert got[i] == ref(t), (i, t)


def test_capped_jaccard_is_exact_on_hot_cold_mix(spark):
    # a pair sharing a HOT token and a cold token must survive the
    # max_token_df cap with exact (inter, uni): the cap may only
    # govern candidate generation, never the emitted values. Here
    # 'the' (df=3) is capped; true J(1,2) = 2/3 >= 0.6 via the shared
    # cold token 'x' — the old capped-index intersection undercounted
    # inter to 1 and dropped the pair.
    from tabular_data_semantics_py_spark.operators.dedup import (
        jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "the x"), (2, "the x y"), (3, "the z")],
        "doc_id long, text string",
    )
    got = {
        (r.i, r.j): (r.inter, r.uni)
        for r in jaccard_pairs(docs, 0.6, max_token_df=2).collect()
    }
    assert got == {(1, 2): (2, 3)}
    # uncapped baseline agrees
    exact = {
        (r.i, r.j): (r.inter, r.uni)
        for r in jaccard_pairs(docs, 0.6).collect()
    }
    assert exact == got


def test_canonicalize_null_text_is_singleton(spark):
    # NULL text has no word set — it must stay a self-canonical
    # singleton, NOT collapse with the empty-text doc (whose word set
    # is ['']; both used to key to sha2("")). Two empty-text docs ARE
    # J=1 duplicates of each other.
    from tabular_data_semantics_py_spark.operators.dedup import (
        near_dup_canonicalize,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, ""), (4, "a b c")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in near_dup_canonicalize(docs, 0.9).collect()
    }
    assert got == {
        1: (1, True), 2: (2, True), 3: (2, False), 4: (4, True)
    }


def test_banding_config_validation(spark):
    import pytest

    from tabular_data_semantics_py_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of"):
        minhash_lsh_pairs(docs, 0.9, n_hashes=16, rows_per_band=3)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=4, n_bands=4)


def test_hash_injective_certificate(spark):
    """The runtime certificate behind the hashed intersect verify:
    xxhash64 is collision-free on the small corpus's token domain
    (True), and a deliberately weak 1-bit hash fails the certificate
    (False) — the branch that keeps the string path."""
    from tabular_data_semantics_py_spark.operators.dedup import (
        _hash_injective_on, word_sets,
    )

    toks = word_sets(_docs(spark), "text", "doc_id", 1).select(
        F.explode("words").alias("w")
    )
    assert _hash_injective_on(toks, F.col("w"), F.xxhash64(F.col("w")))
    assert not _hash_injective_on(
        toks, F.col("w"), F.pmod(F.xxhash64(F.col("w")), F.lit(2))
    )


def test_hashed_verify_output_identical(spark):
    """minhash_lsh_pairs output must be row-identical whether the
    exact-Jaccard verify runs on shingle strings or on their hashed
    int64 images (the certificate holds on these corpora, so both are
    exact), on the per-doc and on the collapsed path."""
    for docs in (_docs(spark), _dup_docs(spark)):
        def rows(hv):
            return sorted(
                (r.i, r.j, r.inter, r.uni)
                for r in minhash_lsh_pairs(
                    docs, 0.8, 16, 1, ngram=3, hashed_verify=hv
                ).collect()
            )

        s = rows(False)
        assert s == rows(True)
        assert s == rows(None)  # default = certificate-gated
        assert len(s) > 0


def test_collapsed_paths_match_per_item_references(spark, monkeypatch):
    """The collapse → pair → expand paths are row-identical to pairing
    every doc: MinHash to exact ``jaccard_pairs``, collapsed SimHash to
    the per-doc banding (a cap of n_docs never trips), and the
    canonicalization to a union-find over ``jaccard_pairs``."""
    from tabular_data_semantics_py_spark.operators import dedup

    expanded = []
    expand = dedup._expand
    monkeypatch.setattr(
        dedup, "_expand", lambda *a: expanded.append(1) or expand(*a)
    )
    docs = _dup_docs(spark)
    n_docs = docs.count()

    exact = sorted(
        (r.i, r.j, r.inter, r.uni)
        for r in dedup.jaccard_pairs(docs, 0.8).collect()
    )
    got = sorted(
        (r.i, r.j, r.inter, r.uni)
        for r in minhash_lsh_pairs(docs, 0.8).collect()
    )
    assert expanded, "the duplication gate must pick the collapsed path"
    assert got == exact
    assert len(exact) > 40 * 39 // 2

    collapsed = sorted(dedup.simhash_pairs(docs).collect())
    per_doc = sorted(
        dedup.simhash_pairs(docs, max_bucket_size=n_docs).collect()
    )
    assert len(expanded) == 2
    assert collapsed == per_doc
    assert len(collapsed) > 0

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for i, j, _, _ in exact:
        a, b = find(i), find(j)
        parent[max(a, b)] = min(a, b)
    want = {i: find(i) for i in range(n_docs)}
    got = {
        r.doc_id: r.canonical_id
        for r in dedup.near_dup_canonicalize(docs, 0.8).collect()
    }
    assert got == want
