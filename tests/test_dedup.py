"""Dedup-family operator tests (exact, minhash-LSH, simhash, ngram, cosine)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators import dedup as D

BASE = "the quick brown fox jumps over the lazy dog while the sun shines bright"
NEAR = BASE.replace("lazy", "sleepy")
FAR = "completely different text about databases and distributed query engines"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            ("d1", BASE),
            ("d2", BASE),          # exact dup of d1
            ("d3", NEAR),          # near dup of d1
            ("d4", FAR),
            ("d5", FAR + " extra tail words here"),
        ],
        "doc_id string, text string",
    )


def test_exact_duplicate_groups(docs):
    groups = D.exact_duplicate_groups(docs, "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["group_size"] == 2
    assert groups[0]["ids"] == ["d1", "d2"]


def test_exact_dedup_keeps_min_id(docs):
    kept = {r["doc_id"] for r in D.exact_dedup(docs, "doc_id").collect()}
    assert kept == {"d1", "d3", "d4", "d5"}


def test_minhash_lsh_pairs(docs):
    pairs = {
        (r["id1"], r["id2"])
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", jaccard_threshold=0.5, bands=32, num_perm=128
        ).collect()
    }
    assert ("d1", "d2") in pairs
    assert ("d1", "d3") in pairs
    assert not any({"d1", "d2", "d3"} & {a, b} and {"d4", "d5"} & {a, b} for a, b in pairs)


def test_minhash_dedup_transitive(docs):
    kept = {r["doc_id"] for r in D.minhash_dedup(docs, "doc_id", jaccard_threshold=0.5).collect()}
    # d1-d2-d3 one component -> keep d1; d4/d5 depends on their jaccard
    assert "d1" in kept
    assert "d2" not in kept and "d3" not in kept
    assert "d4" in kept


def test_simhash_pairs(docs):
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in D.simhash_pairs(docs, "doc_id", max_hamming=8, bands=16).collect()
    }
    assert pairs[("d1", "d2")] == 0
    assert ("d1", "d3") in pairs
    assert ("d1", "d4") not in pairs


def test_simhash_bands_guard(docs):
    with pytest.raises(ValueError):
        D.simhash_pairs(docs, "doc_id", max_hamming=4, bands=4)


def test_simhash_nondividing_bands_complete(spark):
    """bands=7 does not divide 64: chunk widths 10..10,9..9 must cover all
    64 bits, so the banded pair set equals brute force (a remainder bit
    outside every chunk would silently lose pairs differing only there —
    ADVICE r01)."""
    import pandas as pd

    from dedupe_spark.functions.strings import hamming64, simhash64_batch

    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(60)]
    texts = [
        " ".join(rng.choice(vocab, size=30).tolist()) for _ in range(40)
    ]
    # inject near-identical variants so some pairs land within hamming 6
    for i in range(0, 20, 2):
        toks = texts[i].split()
        toks[3] = "altered"
        texts[i + 1] = " ".join(toks)
    docs = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(texts)],
        "doc_id string, text string",
    )
    hashes = simhash64_batch(pd.Series(texts))
    truth = {
        (f"d{i:02d}", f"d{j:02d}")
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if hamming64(int(hashes[i]) & ((1 << 64) - 1), int(hashes[j]) & ((1 << 64) - 1)) <= 6
    }
    got = {
        (r["id1"], r["id2"])
        for r in D.simhash_pairs(
            docs, "doc_id", max_hamming=6, bands=7
        ).collect()
    }
    assert truth, "fixture produced no close pairs — test is vacuous"
    assert got == truth


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", threshold=0.4).collect()
    }
    assert pairs[("d1", "d2")] == pytest.approx(1.0)
    assert ("d1", "d3") in pairs
    assert ("d1", "d4") not in pairs


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(D.cosine_expr("a", "b").alias("c")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0)
    assert got[2] == 0.0  # zero vector guarded


def test_embedding_cosine_pairs(spark):
    rng = np.random.RandomState(0)
    base = rng.normal(size=16)
    near = base + rng.normal(scale=0.01, size=16)
    far = rng.normal(size=16)
    df = spark.createDataFrame(
        [("e1", base.tolist()), ("e2", near.tolist()), ("e3", far.tolist())],
        "vec_id string, embedding array<double>",
    )
    pairs = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in D.embedding_cosine_pairs(df, "vec_id", threshold=0.9).collect()
    }
    assert ("e1", "e2") in pairs
    assert pairs[("e1", "e2")] > 0.99
    assert ("e1", "e3") not in pairs


def test_embedding_lsh_recall_vs_exact(spark):
    """RH-LSH pairs vs the exact all-pairs cosine baseline on the driver
    embeddings: every LSH pair must be a true pair (precision 1.0 — cosine
    is verified exactly after the bucket join) and recall must clear the
    16-plane/4-band collision curve's practical floor on this corpus."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    lsh = {
        (r["id1"], r["id2"])
        for r in D.embedding_cosine_pairs(e, "vec_id", threshold=0.35).collect()
    }
    ev = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = ev.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = ev.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    exact = {
        (r["id1"], r["id2"])
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cosine", D.cosine_expr("v1", "v2"))
        .where(F.col("cosine") >= 0.35)
        .collect()
    }
    assert lsh <= exact  # no false positives (exact verification)
    # collision curve: P[bit match] = 1 - acos(c)/pi ≈ 0.61 at c=0.35, so a
    # 4-bit band matches with p^4 ≈ 0.14 and ≥1 of 4 bands ≈ 0.46 — most of
    # this corpus' true pairs sit near the threshold, so expected recall is
    # ~0.46-0.55 (measured 0.463 with the md5-Rademacher planes; 0.498 with
    # the earlier Gaussian draw); 0.4 is the regression floor, and the
    # near-dup duplicates the operator exists for (c ≥ 0.9) are ~certain
    assert len(lsh) / max(len(exact), 1) >= 0.4


def test_simhash_banded_equals_exact_on_corpus(spark):
    """Pigeonhole completeness on real data: the banded simhash plan must
    emit EXACTLY the pairs of the brute-force hamming<=6 join (bands=7 > 6,
    no block hits the cap on this corpus) — the same equivalence the DuckDB
    oracle (queries.SQL_SIMHASH_PAIRS) checks at sf0.01, asserted here
    Spark-only at sf0.001."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    banded = {
        (r["id1"], r["id2"], r["hamming"])
        for r in D.simhash_pairs(d, "doc_id", max_hamming=6, bands=7).collect()
    }
    sh = d.select("doc_id", D.simhash_col("text").alias("sh"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("h1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("h2"))
    exact = {
        (r["id1"], r["id2"], r["hamming"])
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .where(F.col("hamming") <= 6)
        .collect()
    }
    assert banded == exact and len(exact) > 0
    # chunk-PAIR blocking (min_shared=2, Manku 2007): same exact recall by
    # the tighter pigeonhole (<= 6 corrupted chunks of 8 leave >= 2 intact)
    # with 2^-16 bucket collisions instead of 2^-9 — the registered
    # q_simhash_pairs runs this mode
    paired = {
        (r["id1"], r["id2"], r["hamming"])
        for r in D.simhash_pairs(
            d, "doc_id", max_hamming=6, bands=8, min_shared=2
        ).collect()
    }
    assert paired == exact


def test_simhash_min_shared_guards(docs):
    with pytest.raises(ValueError):
        # bands must exceed max_hamming + 1 when 2 shared chunks required
        D.simhash_pairs(docs, "doc_id", max_hamming=6, bands=7, min_shared=2)
    with pytest.raises(ValueError):
        D.simhash_pairs(docs, "doc_id", max_hamming=6, bands=8, min_shared=3)


def test_rademacher_planes_deterministic():
    """The SRP plane matrix is a pure function of (n_planes, d): md5-derived
    ±1 entries (Achlioptas 2003), no RNG state. Lock a few known entries so
    a kernel change that would silently desync the DuckDB oracle
    (queries.SQL_EMBEDDING_LSH_PAIRS re-derives this matrix in SQL) fails
    here first."""
    import hashlib

    w = D.rademacher_planes(16, 64)
    assert w.shape == (16, 64)
    assert set(np.unique(w)) == {-1.0, 1.0}
    for p, dim in [(0, 0), (3, 17), (15, 63)]:
        h = hashlib.md5(f"rp:{p}:{dim}".encode()).hexdigest()
        assert w[p, dim] == (1.0 if int(h[0], 16) & 1 else -1.0)
    assert w is D.rademacher_planes(16, 64)  # cached, immutable
    assert not w.flags.writeable


def test_embedding_lsh_matches_duckdb_oracle(spark):
    """End-to-end cross-engine value check at sf0.001: the Spark LSH plan
    (md5-Rademacher buckets -> capped band join -> exact-cosine verify)
    must emit the exact rows of queries.SQL_EMBEDDING_LSH_PAIRS run by
    DuckDB on the same parquet — the same equivalence the driver's
    CORRECTNESS gate checks at sf0.01."""
    import duckdb

    from dedupe_spark.queries import SQL_EMBEDDING_LSH_PAIRS, q_embedding_lsh_pairs

    got = {
        (r["id1"], r["id2"], r["cosine"])
        for r in q_embedding_lsh_pairs(spark, "/root/testdata/sf0.001").collect()
    }
    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "'/root/testdata/sf0.001/embeddings.parquet'"
    )
    want = {
        (r.id1, r.id2, r.cosine)
        for r in duck.sql(SQL_EMBEDDING_LSH_PAIRS).df().itertuples()
    }
    assert got == want and len(want) > 0


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully contained in one ~4x its size: containment ~1.0
    while Jaccard stays below a typical resemblance threshold — the reason
    the asymmetric measure exists (Broder 1997)."""
    from pyspark.sql import functions as F
    from dedupe_spark.operators import blocking as B

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = short + (" iota kappa lambda mu nu xi omicron pi rho sigma tau"
                     " upsilon phi chi psi omega one two three four five six")
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    g = df.select("doc_id", B.ngram_array("text", n=5).alias("g"))
    a = g.where("doc_id = 1").select(F.col("g").alias("g1"))
    b = g.where("doc_id = 2").select(F.col("g").alias("g2"))
    row = a.crossJoin(b).select(
        F.size(F.array_intersect("g1", "g2")).alias("i"),
        F.size("g1").alias("n1"), F.size("g2").alias("n2"),
    ).collect()[0]
    containment = row["i"] / row["n1"]
    jaccard = row["i"] / (row["n1"] + row["n2"] - row["i"])
    assert containment >= 0.9       # sub-doc is (almost) fully contained
    assert jaccard < 0.5            # resemblance threshold would miss it


def test_winnow_span_pairs_offset_robust(spark):
    """The winnowing guarantee: a shared verbatim passage of length >=
    window + gram - 1 chars is detected REGARDLESS of its offset inside
    two otherwise-different documents; unrelated docs produce no pair."""
    from dedupe_spark.operators.dedup import winnow_span_pairs

    passage = ("the disputed acorn was finally returned to the seventeen "
               "magpies beneath the old stone bridge near the millers field "
               "after a long and contentious arbitration process")
    doc_a = "completely unrelated preamble text comes first here. " + passage
    doc_b = passage + " and then this document wanders off to discuss spark"
    doc_c = ("catalyst rewrites logical plans with pushdown pruning and "
             "constant folding before tungsten emits java bytecode for the "
             "physical operators chosen by the cost based optimizer rules")
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id long, text string"
    )
    got = {(r.id1, r.id2): r.n_shared
           for r in winnow_span_pairs(df, min_shared=3).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert all(3 not in k for k in got)


def test_winnow_span_pairs_xxhash_production_mode(spark):
    """The cheap-hash production mode finds the same planted span (the
    winnowing guarantee is hash-independent)."""
    from dedupe_spark.operators.dedup import winnow_span_pairs

    passage = ("a long verbatim shared passage that easily exceeds the "
               "winnowing window plus gram length in characters and then some")
    df = spark.createDataFrame(
        [(1, "prefix one. " + passage), (2, passage + " suffix two")],
        "doc_id long, text string",
    )
    got = winnow_span_pairs(df, min_shared=3, hash_fn="xxhash64").collect()
    assert [(r.id1, r.id2) for r in got] == [(1, 2)]
    import pytest
    with pytest.raises(ValueError):
        winnow_span_pairs(df, hash_fn="sha1")


def test_keep_best_representatives_longest_wins_ties_by_id(spark):
    assigns = spark.createDataFrame(
        [("1", "c1"), ("2", "c1"), ("3", "c1"), ("10", "10")],
        ["record_id", "cluster_id"],
    )
    quality = spark.createDataFrame(
        [("1", 50), ("2", 90), ("3", 90), ("10", 5)],
        ["record_id", "quality"],
    )
    out = {
        r["record_id"]: r["keep"]
        for r in D.keep_best_representatives(assigns, quality).collect()
    }
    # highest quality wins; quality tie broken by NUMERIC id ascending
    # ("2" < "3"); singletons always kept
    assert out == {"1": False, "2": True, "3": False, "10": True}


# ---------------------------------------------------------------------------
# Weighted (bag-Jaccard) minhash
# ---------------------------------------------------------------------------


def test_weighted_minhash_distinguishes_multiplicity(spark):
    """Two docs over the SAME token set but different multiplicities:
    set Jaccard = 1.0 (indistinguishable), capped bag Jaccard < 1."""
    rep = "boilerplate " * 6 + "unique content words here"
    once = "boilerplate " + "unique content words here"
    df = spark.createDataFrame(
        [("a", rep.strip()), ("b", once.strip())],
        "doc_id string, text string",
    )
    got = D.weighted_minhash_pairs(df, "doc_id", threshold=None).collect()
    assert len(got) == 1
    r = got[0]
    # bag A = {bp:3(cap), unique:1, content:1, words:1, here:1} (7 mass),
    # bag B = {bp:1, ...} (5 mass); inter = 1+1+1+1+1 = 5, union = 7
    assert r.bag_jaccard == round(5 / 7, 6)


def test_weighted_minhash_threshold_is_exact_integer_compare(spark):
    # (this pair deterministically collides on >= 1 LSH band under the
    # pinned md5/affine params — checked, not assumed)
    df = spark.createDataFrame(
        [("a", "x x y"), ("b", "x x y z"), ("c", "q w e")],
        "doc_id string, text string",
    )
    # bags: a={x:2,y:1}, b={x:2,y:1,z:1} -> inter=3, union=4, J=0.75
    keep = D.weighted_minhash_pairs(df, "doc_id", threshold=(3, 4)).collect()
    assert [(r.id1, r.id2, r.bag_jaccard) for r in keep] == [("a", "b", 0.75)]
    # 0.75 < 76/100: the integer cross-multiply drops it exactly
    drop = D.weighted_minhash_pairs(df, "doc_id", threshold=(76, 100)).collect()
    assert drop == []


def test_weighted_minhash_cap_bounds_replication(spark):
    """Counts above the cap are equivalent: 10x and 3x the same token
    are the same capped bag."""
    df = spark.createDataFrame(
        [("a", "t " * 10), ("b", "t " * 3)],
        "doc_id string, text string",
    )
    got = D.weighted_minhash_pairs(df, "doc_id", cap=3, threshold=None).collect()
    assert len(got) == 1 and got[0].bag_jaccard == 1.0


def test_weighted_kernel_matches_scalar_composition():
    import pandas as pd

    from dedupe_spark.functions import strings as S

    a, b = S.minhash_params(126)
    texts = pd.Series([BASE, NEAR, "", None, "w w w w w unique"])
    got = S.weighted_minhash_bands_batch(texts, a, b, 21, 6, cap=3)
    from collections import Counter

    for t, keys in zip(texts, got):
        toks = t.split() if isinstance(t, str) else []
        if not toks:
            assert keys == []
            continue
        els = [
            f"{w}#{i}"
            for w, c in Counter(toks).items()
            for i in range(1, min(c, 3) + 1)
        ]
        assert keys == S.band_keys(S.minhash_signature(els, a, b), 21, 6)


def test_minhash_index_maintain_equals_rebuild_and_respects_changes(spark):
    from pyspark.sql.functions import pandas_udf

    from dedupe_spark.functions import strings as S
    from dedupe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = QUERIES["minhash_index_maintain"](spark, sf).toPandas()
    d = spark.read.parquet(f"{sf}/documents.parquet").toPandas()
    import hashlib

    h = d["doc_id"].map(
        lambda x: hashlib.md5(str(int(x)).encode()).hexdigest()[:2]
    )
    deleted = set(d.loc[h >= "f8", "doc_id"])
    updated = set(d.loc[h < "10", "doc_id"])
    assert deleted and updated
    assert not (set(got["doc_id"]) & deleted)
    # independent rebuild: scalar kernel over the post-change corpus
    a_p, b_p = S.minhash_params(48)
    post = d[~d["doc_id"].isin(deleted)].copy()
    post.loc[post["doc_id"].isin(updated), "text"] += " updated"
    by_doc = got.groupby("doc_id")
    for doc_id, text in zip(post["doc_id"], post["text"]):
        want = (
            S.minhash_signature(S.char_shingles(text, 5), a_p, b_p)
            .astype("int64")
            .tolist()
        )
        rows = by_doc.get_group(doc_id).sort_values("i")
        assert rows["v"].tolist() == want, doc_id


def test_dedup_provenance_precedence_and_consistency(spark):
    from dedupe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    prov = {
        r.doc_id: r.verdict
        for r in QUERIES["dedup_provenance"](spark, sf).collect()
    }
    mh = QUERIES["minhash_pairs"](spark, sf).collect()
    sh = QUERIES["simhash_pairs"](spark, sf).collect()

    def dropped(pairs):
        out = set()
        for r in pairs:
            a, b = int(r.id1), int(r.id2)
            out.add(max(a, b))
        return out

    mh_drop, sh_drop = dropped(mh), dropped(sh)
    for doc, v in prov.items():
        if v == "minhash":
            assert doc in mh_drop
        elif v == "simhash":
            assert doc in sh_drop and doc not in mh_drop
        elif v == "kept":
            assert doc not in mh_drop and doc not in sh_drop
    # the fixture corpus has near-dups that only one family catches
    assert "minhash" in prov.values() and "simhash" in prov.values()


def _sf001_docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "text")


def _sorted_pd(df):
    return (
        df.toPandas().sort_values(["id1", "id2"]).reset_index(drop=True)
    )


def test_weighted_minhash_verify_strategies_agree(spark):
    """The gather verify (a weighted_verify_index lookup) and the
    relational token-join verify (lookup None) must emit IDENTICAL rows
    (same integers, same keep decisions) — the two-path contract of the
    family."""
    import pandas as pd

    d = _sf001_docs(spark)
    lk = D.weighted_verify_index(d, "doc_id", "text")
    assert lk is not None
    try:
        j = _sorted_pd(
            D.weighted_minhash_pairs(
                d, "doc_id", threshold=(4, 5), verify_lookup=None
            )
        )
        b = _sorted_pd(
            D.weighted_minhash_pairs(
                d, "doc_id", threshold=(4, 5), verify_lookup=lk
            )
        )
    finally:
        lk.destroy()
    pd.testing.assert_frame_equal(j, b)
    assert len(j) > 0


def test_ngram_jaccard_verify_lookup_and_join_agree(spark):
    """ngram_jaccard_verify gives identical rows through the pair join
    (lookup None) and through a text_lookup gather — including dropping a
    pair that names an absent id."""
    import pandas as pd

    from dedupe_spark.operators import blocking as B

    d = _sf001_docs(spark)
    blocks = B.generate_blocks(d, "doc_id", {"t2": B.first_tokens("text", 2)})
    pairs = B.candidate_pairs(blocks, max_block=1000).unionByName(
        spark.createDataFrame([("0", "ghost")], "id1 string, id2 string")
    )
    lk = D.text_lookup(d, "doc_id", "text")
    assert lk is not None
    try:
        j = _sorted_pd(D.ngram_jaccard_verify(pairs, d, "doc_id", "text"))
        b = _sorted_pd(
            D.ngram_jaccard_verify(pairs, d, "doc_id", "text", lookup=lk)
        )
    finally:
        lk.destroy()
    pd.testing.assert_frame_equal(j, b)
    assert len(j) > 0 and "ghost" not in set(j["id2"])


def test_cross_source_dup_matrix_tiles_the_pair_relation(spark):
    from dedupe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    m = QUERIES["cross_source_dup_matrix"](spark, sf).toPandas()
    pairs = QUERIES["minhash_pairs"](spark, sf).toPandas()
    assert m["n_dup_pairs"].sum() == len(pairs)
    assert (m["source_a"] <= m["source_b"]).all()
    docs = spark.read.parquet(f"{sf}/documents.parquet").toPandas()
    tot = docs["source"].value_counts()
    for _, r in m.iterrows():
        assert r["docs_a"] == tot[r["source_a"]]
        assert r["docs_b"] == tot[r["source_b"]]


def test_dedup_threshold_sweep_is_monotone_and_tiles(spark):
    from dedupe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    s = (
        QUERIES["dedup_threshold_sweep"](spark, sf)
        .toPandas()
        .sort_values("threshold_pct")
    )
    # raising the threshold can only shrink pairs and drops
    assert (s["n_pairs"].diff().dropna() <= 0).all()
    assert (s["n_docs_dropped"].diff().dropna() <= 0).all()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert (s["n_docs_dropped"] + s["n_docs_kept"] == n_docs).all()
    # the 70% row equals the minhash_pairs relation itself
    pairs = QUERIES["minhash_pairs"](spark, sf).toPandas()
    assert s.iloc[0]["n_pairs"] == len(pairs)
