"""Document deduplication operators for web-scale training-data pipelines.

Complements the learned record-linkage core (blocking/scoring/clustering)
with the standard large-corpus dedup family, each expressed Spark-first:

- exact_duplicates / exact_dedup      hash-groupBy (one shuffle, map-side safe)
- minhash_lsh_pairs / minhash_dedup   shingle -> minhash -> band -> bucket join
- simhash_pairs                       64-bit simhash, banded hamming blocking
- ngram_jaccard_pairs                 candidate pairs verified by true Jaccard
- embedding_cosine_pairs              near-dup via embedding cosine >= tau

All pair emitters return (id1, id2, ...) with id1 < id2, ready for
clustering.connected_components; *_dedup variants return the survivor set
(keep min-id per duplicate group — deterministic).

Scale notes: every operator here is one explode + one shuffle-join on the
blocking key plus a verification map — no O(n^2) stage. Band keys are
namespaced so a single blocks table can mix predicates. Mega-buckets are
capped by the same block-size guard as learned blocking (blocking.py).

Verification follows the pair-kernel contract of operators/scoring.py: a
lookup argument (:func:`text_lookup`, :func:`weighted_verify_index`)
gathers texts worker-side through ``scoring.gather_pairs``; None ships
them through the pair join. Whether a lookup is built at all is decided
by ``scoring.try_build_lookup`` against its two size caps, once, by the
owner of the corpus (``ngram_jaccard_pairs``, ``minhash_dedup``, or the
caller of ``minhash_lsh_pairs``/``weighted_minhash_pairs``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..functions import strings as S
from ..lifecycle import track
from . import blocking as B
from .clustering import connected_components
from .scoring import FieldSpec, RecordLookup, gather_pairs, try_build_lookup

# ---------------------------------------------------------------------------
# Exact deduplication (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical ``text_col``: (text_hash, group_size, ids).

    sha2-256 the column first so the shuffle moves 32-byte keys, not
    documents — at 100 TB the difference is the job. ids sorted for
    determinism.
    """
    hashed = df.select(
        F.sha2(F.col(text_col), 256).alias("text_hash"), F.col(id_col).alias("_id")
    )
    return (
        hashed.groupBy("text_hash")
        .agg(
            F.count("*").alias("group_size"),
            F.sort_array(F.collect_list("_id")).alias("ids"),
        )
        .where(F.col("group_size") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct ``text_col`` value."""
    w_min = (
        df.select(F.sha2(F.col(text_col), 256).alias("text_hash"),
                  F.col(id_col).alias("_keep"))
        .groupBy("text_hash")
        .agg(F.min("_keep").alias("_keep"))
    )
    return (
        df.withColumn("text_hash", F.sha2(F.col(text_col), 256))
        .join(w_min, "text_hash")
        .where(F.col(id_col) == F.col("_keep"))
        .drop("text_hash", "_keep")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-duplicate detection
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_perm: int = 126,
    bands: int = 21,
    shingle_k: int = 5,
    jaccard_threshold: float | None = 0.7,
    max_block: int = 2000,
    verify_lookup: RecordLookup | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH, optionally verified.

    shingle -> minhash signature -> band bucket keys (explode) -> salted
    bucket self-join (blocking.candidate_pairs) -> optional exact n-gram
    Jaccard verification at ``jaccard_threshold``. Collision probability for
    Jaccard J is 1-(1-J^r)^b with r = num_perm/bands; the default r=6,b=21
    gives ~0.93 @ J=0.7, ~0.997 @ J=0.8, while keeping the baseline
    similarity of same-domain corpora (J≈0.4-0.5) out of the buckets — low
    r floods the candidate join with junk pairs at web scale.

    ``verify_lookup`` passes through to :func:`ngram_jaccard_verify`:
    a :func:`text_lookup` of ``df`` verifies by gather, None through the
    pair join. Build it once per corpus and reuse it across calls.
    """
    mh = B.minhash_bands_udf(num_perm=num_perm, bands=bands, shingle_k=shingle_k)
    # cache: the candidate self-join reads the UDF-computed blocks twice
    # (left/right), and re-running the minhash kernel is the expensive part
    # (on a cluster this is the checkpointed `blocks` table); tracked for
    # release at the harness' next between-queries cleanup
    blocks = track(
        B.generate_blocks(df, id_col, {"mh": mh(F.col(text_col))}).cache()
    )
    pairs = B.candidate_pairs(blocks, max_block=max_block)
    if jaccard_threshold is None:
        return pairs
    verified = ngram_jaccard_verify(
        pairs, df, id_col, text_col, n=shingle_k, lookup=verify_lookup
    )
    return verified.where(F.col("jaccard") >= F.lit(jaccard_threshold))


def text_lookup(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> RecordLookup | None:
    """Broadcast (id -> text) lookup for :func:`ngram_jaccard_verify`, or
    None when the corpus exceeds the caps or ids repeat
    (scoring.try_build_lookup). Build once per corpus and reuse — the
    caller owns the lifecycle (``lookup.destroy()`` or ``track``)."""
    return try_build_lookup(df, id_col, [FieldSpec(text_col, "String")])


def ngram_jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    lookup: RecordLookup | None = None,
) -> DataFrame:
    """Attach exact character-n-gram Jaccard to candidate pairs (Arrow UDF).

    The scoring.score_pairs contract: a ``lookup`` (:func:`text_lookup`)
    gathers texts worker-side, so pairs carry only ids; None ships texts
    through the pair joins (the at-scale path). Stays lazy either way.
    """
    if lookup is not None:
        return gather_pairs(
            pairs, lookup, _jaccard_kernel(text_col, n), DoubleType(), "jaccard"
        )

    par = pairs.sparkSession.sparkContext.defaultParallelism
    proj = df.select(F.col(id_col).alias("_rid"), F.col(text_col).alias("_txt"))
    wide = (
        pairs.join(proj.withColumnRenamed("_rid", "id1"), "id1")
        .withColumnRenamed("_txt", "_t1")
        .join(proj.withColumnRenamed("_rid", "id2"), "id2")
        .withColumnRenamed("_txt", "_t2")
    )
    # spread the Python-CPU-bound verify stage across all cores at 3
    # tasks/core (AQE's byte-based coalescing would starve it; 1 task/core
    # is straggler-bound — see scoring.score_pairs)
    wide = wide.repartition(par * 3)

    @pandas_udf(DoubleType())
    def _jac(t1: pd.Series, t2: pd.Series) -> pd.Series:
        return pd.Series(S.ngram_jaccard_batch(t1, t2, n))

    jac = _jac.asNondeterministic()
    return wide.select("id1", "id2", jac("_t1", "_t2").alias("jaccard"))


def _jaccard_kernel(text_col: str, n: int):
    def kernel(lk: dict, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
        texts = lk["cols"][text_col]
        return S.ngram_jaccard_batch(
            pd.Series(texts[p1]), pd.Series(texts[p2]), n
        )

    return kernel


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    **kw,
) -> DataFrame:
    """Survivor set after transitive near-dup removal: connected components
    over verified near-dup pairs, keep the min id per component. Verifies
    through a :func:`text_lookup` of ``df`` unless ``verify_lookup`` is
    passed."""
    if "verify_lookup" not in kw:
        kw["verify_lookup"] = track(text_lookup(df, id_col, text_col))
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, jaccard_threshold=jaccard_threshold, **kw
    )
    assign = connected_components(pairs.select("id1", "id2"))
    losers = assign.where(F.col("record_id") != F.col("cluster_id")).select(
        F.col("record_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Weighted (bag-Jaccard) MinHash near-duplicate pairs
# ---------------------------------------------------------------------------


def weighted_token_counts(
    df: DataFrame, id_col: str, text_col: str = "text", cap: int = 3
) -> DataFrame:
    """(_id, t, c) capped word-token counts — the bag the weighted
    Jaccard is computed over. One explode + one map-side-combinable
    groupBy; ``cap`` bounds the weight any single token can carry (and
    the replication fan-out of the sketch)."""
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("t"),
        )
        .groupBy("_id", "t")
        .agg(F.least(F.count("*"), F.lit(cap)).cast("long").alias("c"))
    )


WMH_SIG_PREFILTER = 0.7  # signature-agreement fraction gating exact verify


def weighted_verify_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    cap: int = 3,
    num_perm: int = 126,
) -> RecordLookup | None:
    """Broadcast (id → text, weighted signature) index for the two-stage
    verify: the standard text lookup augmented with the corpus's
    (n, num_perm) uint32 weighted-MinHash signature matrix, computed
    ONCE driver-side from the collected texts (the same caps and
    lifecycle contract as :func:`text_lookup`; ~num_perm·4 bytes/doc on
    top of the texts). None when the corpus exceeds the caps — callers
    then verify through the relational (join) path."""
    lk = text_lookup(df, id_col, text_col)
    if lk is None:
        return None
    spark = df.sparkSession
    val = dict(lk.broadcast.value)
    texts = val["cols"][text_col]
    a, b = S.minhash_params(num_perm)
    sigs = np.empty((len(texts), num_perm), dtype=np.uint32)
    CH = 4096
    for s in range(0, len(texts), CH):
        sigs[s : s + CH] = S.weighted_minhash_sigs_batch(
            pd.Series(texts[s : s + CH]), a, b, cap
        )
    val["wsigs"] = sigs
    n = lk.n_records
    lk.destroy()  # the augmented value replaces the plain-text broadcast
    bc = spark.sparkContext.broadcast(val)
    return RecordLookup(bc, [text_col], n)


def weighted_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    cap: int = 3,
    num_perm: int = 126,
    bands: int = 21,
    max_block: int = 2000,
    threshold: tuple[int, int] | None = (7, 10),
    verify_lookup: RecordLookup | None = None,
) -> DataFrame:
    """Near-dup pairs under the CAPPED BAG Jaccard
    ``Σ_t min(ĉ1, ĉ2) / Σ_t max(ĉ1, ĉ2)`` (ĉ = min(count, cap)) —
    multiplicity-aware near-dup: a page repeating its boilerplate block
    3× and a page stating it once diverge under the bag measure where
    the set Jaccard calls them identical.

    Sketch: integer-weight replication weighted MinHash (Chum et al.
    2008) — token ``t`` with capped count ``c`` becomes elements
    ``t#1..t#c``, standard MinHash-LSH bands over the expanded multiset
    (strings.weighted_minhash_bands_batch), so band collision tracks
    the bag Jaccard. Candidates come from the same capped+salted bucket
    join as the unweighted family; verification is EXACT on either of
    the family's two paths (the scoring.score_pairs lookup contract):
    with ``verify_lookup=None`` the relational path joins pairs ⋈
    token-count bag both sides — intersection ``Σ min(c1, c2)`` per
    pair, union by the min/max identity ``|A| + |B| − inter`` from a
    per-doc size relation, no UDF — and with a
    :func:`weighted_verify_index` the gather path computes the IDENTICAL
    integers in one Arrow kernel, so pairs carry only ids and the
    O(candidates × tokens/doc) token shuffle never happens (the 10×
    replica stress measured that shuffle as 370 s of a 370 s runtime).
    The threshold compare is an integer cross-multiply
    (``den·inter ≥ num·union``), exact in every engine and identical on
    both paths; the reported jaccard is one IEEE division rounded to
    6 dp. ``threshold=None`` returns all scored candidates."""
    rows = num_perm // bands
    a, b = S.minhash_params(num_perm)

    @pandas_udf(ArrayType(LongType()))
    def _wbands(texts: pd.Series) -> pd.Series:
        return pd.Series(
            S.weighted_minhash_bands_batch(texts, a, b, bands, rows, cap)
        )

    blocks = track(
        B.generate_blocks(
            df, id_col, {"wmh": _wbands.asNondeterministic()(F.col(text_col))}
        ).cache()
    )
    pairs = B.candidate_pairs(blocks, max_block=max_block)

    # two-stage decision (PATH-INDEPENDENT): a candidate reaches the
    # exact bag verify only if ≥ ceil(0.7·num_perm) signature positions
    # agree — an unbiased, vectorizable bag-Jaccard estimate. At the 0.8
    # operating threshold the false-reject rate is Chernoff-small
    # (Binom(126, 0.8) < 89 ≈ 0.3%), while the 0.6-similarity template
    # background (which floods LSH buckets — 103.8M candidates on the 10×
    # replica stress, 370 s spent rejecting them exactly) is mostly cut
    # before any per-pair dict work. The SQL twin re-derives the same
    # integer match counts from its mh_sig relation.
    min_matches = -(-num_perm * 7 // 10)  # ceil(0.7 · num_perm)
    if verify_lookup is not None:
        if "wsigs" not in verify_lookup.broadcast.value:
            raise ValueError(
                "verify_lookup must come from weighted_verify_index "
                "(plain text_lookup carries no signature matrix)"
            )

        def _bag_iu(lk: dict, p1: np.ndarray, p2: np.ndarray) -> list:
            texts = lk["cols"][text_col]
            sigs = lk["wsigs"]
            m = (sigs[p1] == sigs[p2]).sum(axis=1)
            passed = np.flatnonzero(m >= min_matches)
            out = [None] * len(p1)
            if len(passed):
                inter, union = S.capped_bag_overlap_batch(
                    pd.Series(texts[p1[passed]]),
                    pd.Series(texts[p2[passed]]),
                    cap,
                )
                for k, i, u in zip(passed, inter, union):
                    out[k] = [int(i), int(u)]
            return out

        scored = gather_pairs(
            pairs, verify_lookup, _bag_iu, ArrayType(LongType()), "_iu"
        ).select(
            "id1",
            "id2",
            F.element_at("_iu", 1).alias("inter"),
            F.element_at("_iu", 2).alias("union"),
        )
    else:
        # relational prefilter: the same ≥ min_matches rule over the
        # signature relation (doc_id, i, v), so both paths decide
        # identically
        a_p, b_p = a, b

        @pandas_udf(ArrayType(LongType()))
        def _wsigs(texts: pd.Series) -> pd.Series:
            sg = S.weighted_minhash_sigs_batch(texts, a_p, b_p, cap)
            return pd.Series([row.astype("int64").tolist() for row in sg])

        sig_rel = df.select(
            F.col(id_col).alias("_sid"),
            F.posexplode(
                _wsigs.asNondeterministic()(F.col(text_col))
            ).alias("i", "v"),
        )
        sigm = (
            pairs.join(
                sig_rel.select(
                    F.col("_sid").alias("id1"), "i", F.col("v").alias("v1")
                ),
                "id1",
            )
            .join(
                sig_rel.select(
                    F.col("_sid").alias("id2"),
                    "i",
                    F.col("v").alias("v2"),
                ),
                ["id2", "i"],
            )
            .where(F.col("v1") == F.col("v2"))
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("_m"))
            .where(F.col("_m") >= min_matches)
            .select("id1", "id2")
        )
        tok = weighted_token_counts(df, id_col, text_col, cap)
        sz = tok.groupBy("_id").agg(F.sum("c").alias("s"))
        inter = (
            sigm.join(
                tok.select(
                    F.col("_id").alias("id1"), "t", F.col("c").alias("c1")
                ),
                "id1",
            )
            .join(
                tok.select(
                    F.col("_id").alias("id2"), "t", F.col("c").alias("c2")
                ),
                ["id2", "t"],
            )
            .groupBy("id1", "id2")
            .agg(F.sum(F.least("c1", "c2")).alias("inter"))
        )
        scored = (
            inter.join(
                sz.select(F.col("_id").alias("id1"), F.col("s").alias("sa")),
                "id1",
            )
            .join(
                sz.select(F.col("_id").alias("id2"), F.col("s").alias("sb")),
                "id2",
            )
            .withColumn("union", F.col("sa") + F.col("sb") - F.col("inter"))
        )
    if threshold is not None:
        num, den = threshold
        scored = scored.where(
            F.col("inter") * F.lit(den) >= F.col("union") * F.lit(num)
        )
    return scored.select(
        "id1",
        "id2",
        F.round(F.col("inter") / F.col("union"), 6).alias("bag_jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs
# ---------------------------------------------------------------------------


def simhash_col(text_col: str = "text") -> "F.Column":
    """64-bit simhash over whitespace tokens as an Arrow UDF Column."""

    @pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series(S.simhash64_batch(texts))

    return _sh(F.col(text_col))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_block: int = 2000,
    log_dropped: bool = False,
    min_shared: int = 1,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the 64-bit simhash into ``bands`` chunks
    covering ALL 64 bits (when bands does not divide 64, the first
    ``64 % bands`` chunks are one bit wider — a remainder bit left outside
    every chunk would silently lose pairs differing only there); two hashes
    within hamming distance (bands-1) share >= 1 exact chunk, so a bucket
    join on (band_index, chunk) finds all such pairs without O(n^2).
    ``bands`` must be > max_hamming for completeness. Prefer the FEWEST
    bands the bound allows (e.g. bands=7 for max_hamming=6): wider chunks
    mean more buckets per band, smaller blocks, fewer junk candidates.

    ``min_shared=2`` (requires ``bands >= max_hamming + 2``) blocks on
    PAIRS of chunks (Manku/Jain/Sarma, WWW 2007 §3 — combining tables to
    sharpen keys): each of the <= max_hamming differing bits corrupts at
    most one chunk, so two hashes within the threshold still agree on >= 2
    chunks and land together in the C(bands, 2) table keyed by that chunk
    pair. Bucket keys are twice as wide, so junk-candidate volume falls
    from ~n^2/2^w to ~n^2/2^(2w) — the fixed-width single-chunk scheme
    goes quadratic in corpus size (measured: 5k docs -> 114k candidates,
    54k docs -> ~13M), while pair-keys hold the candidate set near-linear
    at web scale for a C(bands,2)/bands explode-factor price. Same exact
    recall guarantee; prefer it whenever the corpus outgrows ~10k docs.

    ``log_dropped``: count blocks discarded by the ``max_block`` cap and
    emit a warning — the cap is a recall trade worth surfacing (each
    dropped bucket is a hash chunk shared by > max_block docs; pairs found
    only through it are lost). Off by default because the count is an
    EAGER extra job at build time, breaking the lazy-builder contract;
    production pipelines record the same metric via
    blocking.dropped_block_stats at their candidates stage.
    """
    if min_shared not in (1, 2):
        raise ValueError("min_shared must be 1 or 2")
    if bands <= max_hamming + (min_shared - 1):
        raise ValueError(
            "bands must exceed max_hamming + (min_shared - 1) (pigeonhole bound)"
        )
    if not 2 <= bands <= 64:
        raise ValueError("bands must be in [2, 64]")
    base, rem = divmod(64, bands)
    widths = [base + 1] * rem + [base] * (bands - rem)
    offsets = [sum(widths[:i]) for i in range(bands)]
    # cached: read by the band-explode plus both verify-join sides; tracked
    # for release at the harness' next between-queries cleanup
    sh = track(
        df.select(
            F.col(id_col).alias("record_id"), simhash_col(text_col).alias("simhash")
        ).cache()
    )
    chunk = [
        F.shiftrightunsigned(F.col("simhash"), offsets[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        .cast("string")
        for i in range(bands)
    ]
    if min_shared == 1:
        chunk_keys = F.array(
            *[
                F.concat_ws(":", F.lit(f"sh{i}"), chunk[i])
                for i in range(bands)
            ]
        )
    else:
        chunk_keys = F.array(
            *[
                F.concat_ws(":", F.lit(f"sh{i}.{j}"), chunk[i], chunk[j])
                for i in range(bands)
                for j in range(i + 1, bands)
            ]
        )
    blocks = sh.select("record_id", F.explode(chunk_keys).alias("bk"))
    if log_dropped:
        B.warn_dropped_blocks(blocks, max_block, context="simhash_pairs")
    pairs = B.candidate_pairs(blocks, max_block=max_block)
    h1 = sh.select(F.col("record_id").alias("id1"), F.col("simhash").alias("h1"))
    h2 = sh.select(F.col("record_id").alias("id2"), F.col("simhash").alias("h2"))
    return (
        pairs.join(h1, "id1")
        .join(h2, "id2")
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("id1", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard pairs over explicit blocking (no minhash approximation)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    block_predicates: dict | None = None,
    n: int = 5,
    max_block: int = 1000,
) -> DataFrame:
    """Blocked candidate pairs verified by exact n-gram Jaccard >= threshold.

    Default block: first two tokens of the text (cheap, JVM-side). Callers
    with better keys (host, title) pass ``block_predicates``.
    """
    preds = block_predicates or {
        "t2": B.first_tokens(text_col, 2),
    }
    blocks = B.generate_blocks(df, id_col, preds)
    pairs = B.candidate_pairs(blocks, max_block=max_block)
    return ngram_jaccard_verify(
        pairs, df, id_col, text_col, n=n,
        lookup=track(text_lookup(df, id_col, text_col)),
    ).where(F.col("jaccard") >= F.lit(threshold))


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------


def _group_by_dim(vs: pd.Series):
    """Yield (index_array, (m, d) stacked matrix) per distinct vector dim —
    the batch-vectorization pivot for the embedding kernels: one matmul per
    dim group instead of one per row. Mixed dims only happen on dirty
    inputs; the common case is a single full-batch group."""
    arrs = vs.to_numpy(dtype=object)
    dims = np.fromiter((len(v) for v in arrs), dtype=np.int64, count=len(arrs))
    uniq = np.unique(dims)
    if len(uniq) == 1:
        # single-dim fast path (the whole batch in practice): np.stack is a
        # single C-level gather, no per-row Python assignment loop
        yield np.arange(len(arrs)), np.stack(arrs).astype(
            np.float64, copy=False
        )
        return
    for d in uniq:
        idx = np.nonzero(dims == d)[0]
        mat = np.empty((len(idx), int(d)), dtype=np.float64)
        for j, i in enumerate(idx):
            mat[j] = arrs[i]
        yield idx, mat


def rademacher_planes(n_planes: int, d: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes for sign-random-projection LSH.

    Entry (p, dim) is +1 iff the first hex digit of md5("rp:p:dim") is odd
    — a Rademacher projection matrix (Achlioptas 2003, "Database-friendly
    random projections": ±1 entries satisfy the same Johnson-Lindenstrauss
    / sign-sketch guarantees as Gaussian planes). md5-derived rather than
    RNG-seeded for the same reason the token hashes are (strings.py):
    DuckDB computes the identical md5, so the bucket assignment — and with
    it the whole LSH plan — carries a full SQL value oracle
    (queries.SQL_EMBEDDING_LSH_PAIRS re-derives this exact matrix).
    """
    key = (n_planes, d)
    cached = _PLANE_CACHE.get(key)
    if cached is not None:
        return cached
    w = np.empty((n_planes, d), dtype=np.float64)
    for p in range(n_planes):
        for dim in range(d):
            h = hashlib.md5(f"rp:{p}:{dim}".encode("utf-8")).hexdigest()
            w[p, dim] = 1.0 if int(h[0], 16) & 1 else -1.0
    w.flags.writeable = False
    _PLANE_CACHE[key] = w
    return w


_PLANE_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _norm_udf():
    @pandas_udf(ArrayType(DoubleType()))
    def _unit(vs: pd.Series) -> pd.Series:
        out = np.empty(len(vs), dtype=object)
        for idx, mat in _group_by_dim(vs):
            n = np.linalg.norm(mat, axis=1, keepdims=True)
            unit = np.divide(mat, n, out=mat, where=n > 0)
            for j, i in enumerate(idx):
                out[i] = unit[j].tolist()
        return pd.Series(out)

    return _unit


def cosine_expr(a: str, b: str) -> "F.Column":
    """Cosine similarity of two array<double> columns via built-ins
    (zip_with product + aggregate sum) — stays JVM-side."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(F.col(b), F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    max_block: int = 2000,
) -> DataFrame:
    """Near-dup pairs with cosine >= threshold via random-hyperplane LSH.

    Sign-sketch (Charikar 2002): h_i = sign(v . r_i) over n_planes
    Rademacher planes (rademacher_planes — md5-derived ±1 entries,
    Achlioptas 2003; statistically equivalent to Gaussian for SRP, and
    deterministic across engines so the operator carries a DuckDB value
    oracle); band the bit-vector into ``bands`` chunks; bucket-join;
    verify exact cosine with built-in array ops. P[bit match] = 1-theta/pi.

    The bucket kernel is whole-batch vectorized: vectors are stacked per
    dim into one (batch, d) matrix, so each Arrow batch costs ONE
    (batch, d) @ (d, planes) matmul plus a bit-packing dot — no per-row
    Python (VERDICT r2 item 5; the row-at-a-time map was the embedding
    path's 100x bottleneck).
    """
    width = n_planes // bands
    # chunk[0] is the MSB of the band key (matches the scalar (key<<1)|bit
    # fold the kernel was verified against)
    _pack = (1 << np.arange(width - 1, -1, -1, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        out = np.empty(len(vs), dtype=object)
        for idx, mat in _group_by_dim(vs):
            d = mat.shape[1]
            bits = (mat @ rademacher_planes(n_planes, d).T) > 0  # (m, n_planes)
            keys = np.empty((len(idx), bands), dtype=np.int64)
            for bi in range(bands):
                chunk = bits[:, bi * width : (bi + 1) * width].astype(np.int64)
                keys[:, bi] = (bi << 48) | (chunk @ _pack)
            for j, i in enumerate(idx):
                out[i] = keys[j].tolist()
        return pd.Series(out)

    base = track(
        df.select(
            F.col(id_col).alias("record_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).cache()
    )
    # asNondeterministic: stop infer-filters-from-generate duplicating the
    # bucket kernel into a size() filter under the explode (see
    # blocking.minhash_bands_udf)
    blocks = base.select(
        "record_id",
        F.explode(_buckets.asNondeterministic()(F.col("_v"))).alias("bk"),
    ).select("record_id", F.concat(F.lit("cs:"), F.col("bk").cast("string")).alias("bk"))
    pairs = B.candidate_pairs(blocks, max_block=max_block)
    v1 = base.select(F.col("record_id").alias("id1"), F.col("_v").alias("v1"))
    v2 = base.select(F.col("record_id").alias("id2"), F.col("_v").alias("v2"))
    return (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cosine", cosine_expr("v1", "v2"))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id1", "id2", "cosine")
    )


def winnow_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 8,
    window: int = 16,
    max_doc_freq: int = 50,
    min_shared: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-document SHARED-SPAN near-dup via winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003) — the substring-level dedup family
    (Lee et al. 2021 "Deduplicating Training Data...") the set-based
    sketches miss: two documents sharing a long verbatim PASSAGE (quoted
    paragraph, boilerplate block) inside otherwise different text.

    Per document, ALL BUILT-IN (codegen, no Python): character ``gram``-hash
    sequence (md5-u31, the engine's cross-engine hash), then the classic
    sliding-window minimum — every window of ``window`` consecutive hashes
    contributes its min, distinct mins are the fingerprint set. The
    winnowing guarantee: any shared substring of length >=
    ``window + gram - 1`` chars yields at least one common fingerprint
    REGARDLESS of its offset in either document. Fingerprints seen in more
    than ``max_doc_freq`` docs are dropped (corpus-wide boilerplate —
    stop-key semantics, same rationale as the blocking mega-block cap);
    pairs sharing >= ``min_shared`` fingerprints survive.

    Scale shape: fingerprints/doc ~ len/stride (expected stride =
    (window+1)/2), the self-join is capped per fingerprint, and every
    shuffle keys by fingerprint or pair — no all-pairs stage.

    ``hash_fn``: "md5" (default) is the cross-engine hash the DuckDB
    oracle re-derives bit-identically; "xxhash64" is the production
    setting — same algorithm, ~an-order-of-magnitude cheaper per gram
    JVM-side, but not reproducible outside Spark. Winnowing semantics and
    the detection guarantee are hash-independent.
    """
    t = F.col(text_col)
    if hash_fn == "md5":
        u31 = lambda c: (
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit(2147483647))
        )
    elif hash_fn == "xxhash64":
        u31 = lambda c: F.pmod(F.xxhash64(c), F.lit(2147483647))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (gram - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(gram)),
    )
    h = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(grams, lambda g: u31(g)).alias("hs"),
    )
    # cached: the gram-hash + window-min kernel feeds the doc-frequency
    # aggregate AND both self-join sides — uncached the optimized plan
    # expands the subtree 4x and re-hashes every document at least twice
    # (same precedent as embedding_cosine_pairs' base); tracked for
    # release at the next lifecycle sweep
    fps = track(
        h.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size("hs") - window + 1, F.lit(1)),
                        ),
                        lambda i: F.array_min(F.slice(F.col("hs"), i, window)),
                    )
                )
            ).alias("f"),
        ).cache()
    )
    kept = fps.groupBy("f").count().where(F.col("count") <= max_doc_freq).select("f")
    fk = fps.join(kept, "f")
    a = fk.select(F.col("doc_id").alias("id1"), "f")
    b = fk.select(F.col("doc_id").alias("id2"), "f")
    return (
        a.join(b, "f")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def keep_best_representatives(
    assignments: DataFrame,
    quality: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Pick one representative per duplicate cluster: the member with the
    highest ``quality_col`` (ties broken by the numeric value of
    ``id_col`` ascending — deterministic for the engine's numeric-string
    ids). The standard keep-longest/keep-best reduction step after
    near-dup clustering.

    ``assignments``: (id_col, cluster_col) — e.g. connected-components
    output. ``quality``: (id_col, quality_col). Returns
    ``(id_col, cluster_col, keep)`` for every assigned record.

    Scale notes: one shuffle on ``cluster_col`` for the window rank;
    clusters are near-dup families (bounded by the blocking cap
    upstream), so no partition-level skew beyond what candidate
    generation already bounded.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).cast("bigint").asc()
    )
    return (
        assignments.join(quality, id_col)
        .select(
            id_col,
            cluster_col,
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


def semantic_dup_candidates(
    corpus_with_cells: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic near-dup flags (Abbas et al. 2023,
    arXiv:2303.09540): within each coarse-quantizer cell, a record is a
    duplicate when its best cosine to a LOWER-id cellmate clears
    ``threshold`` — keep-lowest-id survivorship, so the kept set is
    unique and order-independent of execution.

    Input already carries the cell column (``ann.assign_cells`` with
    ``ann.fixed_centroids`` for the value-oracled path, or the k-means
    quantizer for recall). Returns one row per DROPPED record:
    ``(id_col, cell, dup_of, cosine)`` where ``dup_of`` is the argmax
    lower-id cellmate (ties: rounded cosine desc, dup_of asc —
    deterministic and engine-portable, which is why the threshold and
    argmax both read the 6-decimal rounding).

    Scale shape: the quadratic work is per-cell (n_cells ~ sqrt(N) keeps
    cells ~sqrt(N) rows); with cell-partitioned storage the self-join is
    co-located, and the cosine is pure built-in zip_with/aggregate —
    no Python in the pair loop.
    """
    from pyspark.sql import Window

    base = corpus_with_cells.select(
        F.col(id_col),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    a = base.select(
        F.col(id_col).alias("dup_of"), "cell", F.col("_v").alias("v1")
    )
    b = base.select(id_col, "cell", F.col("_v").alias("v2"))
    scored = (
        a.join(b, "cell")
        .where(F.col("dup_of") < F.col(id_col))
        .withColumn("cosine", F.round(cosine_expr("v1", "v2"), 6))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("dup_of").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("cosine") >= F.lit(threshold)))
        .select(id_col, "cell", "dup_of", "cosine")
    )
