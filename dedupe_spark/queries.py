"""Driver-contract query suite: every SURVEY.md §2 operator as a
(spark, sf_dir) -> DataFrame callable with (where expressible) an ANSI-SQL
DuckDB oracle twin over the driver's testdata views.

Conventions (driver compare is order-insensitive but name/value-exact):
- every computed column is aliased identically in Spark and SQL;
- every double is rounded to 6 decimals on BOTH sides (ulp-safe hashing);
- deterministic tie-breaks everywhere a limit/rank appears;
- documents(doc_id,text,lang,source,n_chars) stands in for the pages table
  (FIXTURES.md F1 note); embeddings(vec_id,embedding,label) for ANN.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import strings as STR
from .functions import text as T
from .lifecycle import release_session_storage, track
from .model import LogisticModel
from .normalize import preprocess_expr, preprocess_sql
from .operators import ann as ANN
from .operators import assemble as ASM
from .operators import blocking as B
from .operators import dedup as D
from .operators import evalmetrics as EV
from .operators import packing as PK
from .operators.assemble import assemble_clusters
from .operators.clustering import connected_components, member_confidence
from .operators.scoring import (
    FieldSpec,
    feature_names,
    score_pairs,
    try_build_lookup,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _r6(c):
    return F.round(c, 6)


def _proc_stage_dir(sf_dir: str, prefix: str) -> str:
    """Per-process temp staging path for queries that must materialize
    intermediate files (JSONL round-trip, streaming replays): a
    world-shared path keyed only by sf_dir races (and EACCES-collides
    across users) when two sessions run concurrently, so the key is
    (abspath, pid)."""
    import hashlib
    import tempfile

    tag = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{os.getpid()}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")


def _spread(df: DataFrame) -> DataFrame:
    """Repartition single-file scans to full parallelism before pandas-UDF
    stages (see _doc_records note).

    Unconditional by contract: every caller here feeds a driver-testdata
    single-parquet-file scan (always < defaultParallelism partitions), so a
    partition-count probe would be a pure throwaway job — .rdd probes under
    AQE execute the upstream plan (scoring.py:score_pairs docstring). At
    real scale the equivalent is reading a table already bucketed/
    partitioned at write time, not a runtime repartition."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# SQL-expressible queries (Spark + DuckDB twin)
# ---------------------------------------------------------------------------


def q_normalize_docs(spark, sf_dir):
    """P1: reference-parity normalization of the text column (ASCII corpus,
    so the built-in expression chain is full parity)."""
    return _docs(spark, sf_dir).select(
        "doc_id", preprocess_expr("text").alias("text_norm")
    )


SQL_NORMALIZE_DOCS = f"""
SELECT doc_id, {preprocess_sql('text')} AS text_norm FROM documents
"""


_TRANSLIT_TEMPLATES = [
    # one per transliteration branch (normkernel.fold_ascii): Cyrillic,
    # Greek, hiragana (+ voiced), katakana (+ chōonpu), Hangul RR, CJK
    # identity tokens, CJK/kana mix, Hebrew, Arabic, European NFKD +
    # fold-map, default-ignorable Cf drop (soft hyphen + ZWSP), ASCII
    "Москва Российская Федерация",
    "Ελλάδα καλημέρα ψυχή",
    "こんにちは がぎぐげご",
    "ラーメン テキスト",
    "안녕하세요 대한민국",
    "中文维基百科",
    "日本語テキスト",
    "שלום עולם",
    "مرحبا بالعالم",
    "Café Zürich Straße Łódź",
    "co\u00adoperate zero\u200bwidth",
    "Plain ASCII Text",
]

# preprocess_value(template) for each template, frozen as literals: for a
# FIXED input the full normalizer (romanization tables, Hangul RR, CJK
# identity tokens, Cf drop, NFKD, case/space chain) is a compile-time
# constant, which is what lets DuckDB value-check a Python-side kernel —
# the same embed-the-expected-constant device as q_domain_filter's
# synthetic URLs. Regenerate by printing preprocess_value over
# _TRANSLIT_TEMPLATES if the transliteration contract changes
# (tests/test_normalize.py TRANSLIT_GOLDEN pins the same facts).
_TRANSLIT_FOLDED = [
    "moskva rossiiskaya federatsiya",
    "ellada kalemera psukhe",
    "konnichiha gagigugego",
    "ra-men tekisuto",
    "annyeonghaseyo daehanmingug",
    "u004e2d u006587 u007ef4 u0057fa u00767e u0079d1",
    "u0065e5 u00672c u008a9e tekisuto",
    "u0005e9u0005dcu0005d5u0005dd u0005e2u0005d5u0005dcu0005dd",
    "u000645u000631u00062du000628u000627 "
    "u000628u000627u000644u000639u000627u000644u000645",
    "cafe zurich strasse lodz",
    "cooperate zerowidth",
    "plain ascii text",
]


def q_translit_fold(spark, sf_dir):
    """P1 at full strength, IN the gate (round 5): multi-script cell
    normalization via the real Arrow UDF (normalize.preprocess_udf — the
    path the pipeline runs on non-ASCII corpora), over a deterministic
    synthesized multi-script column: template (doc_id % 12) + ' ' +
    doc_id. The documents corpus itself is ASCII, which is why
    `normalize_docs` could never exercise the transliteration kernel;
    this query pins Cyrillic/Greek/kana romanization, Hangul RR, CJK
    identity tokens and the Cf drop under the driver's value hash. The
    UDF is applied to the CONCATENATED string (template + id suffix), so
    the space-collapse interplay with CJK tokens' trailing spaces is
    part of what the hash checks, not just the frozen prefixes."""
    from .normalize import preprocess_udf

    d = _docs(spark, sf_dir)
    raw = F.concat(
        F.element_at(
            F.array(*[F.lit(t) for t in _TRANSLIT_TEMPLATES]),
            (F.col("doc_id") % 12 + 1).cast("int"),
        ),
        F.lit(" "),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        preprocess_udf(raw).alias("text_norm"),
    )


def _sql_translit_fold() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{folded}'"
        for i, folded in enumerate(_TRANSLIT_FOLDED)
    )
    return f"""
SELECT doc_id,
       (CASE doc_id % 12 {cases} END)
         || ' ' || CAST(doc_id AS VARCHAR) AS text_norm
FROM documents
"""


def q_union_scan(spark, sf_dir):
    """S3: multi-source union scan with lineage column."""
    d = _docs(spark, sf_dir)
    a = d.where(F.col("source") == "src0").select(
        "doc_id", "lang", F.lit("file_a").alias("source_file")
    )
    b = d.where(F.col("source") == "src1").select(
        "doc_id", "lang", F.lit("file_b").alias("source_file")
    )
    return a.unionByName(b)


SQL_UNION_SCAN = """
SELECT doc_id, lang, 'file_a' AS source_file FROM documents WHERE source = 'src0'
UNION ALL
SELECT doc_id, lang, 'file_b' AS source_file FROM documents WHERE source = 'src1'
"""


def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup: byte-identical text groups via hash-groupBy."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("group_size"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("ids"),
        )
        .where(F.col("group_size") > 1)
    )


SQL_EXACT_DUP_GROUPS = """
SELECT sha256(text) AS text_hash,
       count(*) AS group_size,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
FROM documents GROUP BY sha256(text) HAVING count(*) > 1
"""


def q_block_candidates(spark, sf_dir):
    """J1 (unsalted shape for the oracle): candidate pairs sharing the
    (lang, first-token) blocking key, block cap 100, id1 < id2. The salted
    production variant is verified pair-identical in tests/test_blocking."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "|", F.col("lang"), F.element_at(F.split(F.trim("text"), r"\s+"), 1)
        ).alias("bk"),
    )
    sizes = d.groupBy("bk").agg(F.count("*").alias("bs"))
    kept = d.join(sizes, "bk").where(F.col("bs") <= 100)
    l = kept.select("bk", F.col("doc_id").alias("id1"))
    r = kept.select("bk", F.col("doc_id").alias("id2"))
    return (
        l.join(r, "bk")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def q_progressive_pairs(spark, sf_dir):
    """Pay-as-you-go pair prioritization (Whang, Marmaros & Garcia-
    Molina 2013; Papenbrock et al. 2015 progressive dedup): under a
    comparison budget, which candidate pairs should be scored FIRST?
    Two cheap deterministic signals, both computable from the block
    relation alone (no text comparison spent on ordering): how many
    DISTINCT blocking predicates a pair co-occurs under (multi-key
    agreement ≈ likely match) and the size of its smallest shared block
    (small blocks = discriminative keys). Waves are PRIORITY CLASSES,
    not a global rank — wave 1: ≥2 shared keys; wave 2: one shared key
    from a block ≤ 10; wave 3: rest — so no single-partition ranking
    window ever touches the pair relation (at 100 TB a global
    row_number over candidates is the bottleneck this design refuses).
    Keys: the canonical (lang | first-token) predicate plus a
    (source | 100-char length bucket) predicate, both capped at 100."""
    d = _docs(spark, sf_dir)
    k1 = d.select(
        "doc_id",
        F.concat(
            F.lit("k1:"),
            F.concat_ws(
                "|",
                F.col("lang"),
                F.element_at(F.split(F.trim("text"), r"\s+"), 1),
            ),
        ).alias("bk"),
    )
    k2 = d.select(
        "doc_id",
        F.concat(
            F.lit("k2:"),
            F.concat_ws(
                "|",
                F.col("source"),
                F.floor(F.col("n_chars") / 100).cast("long").cast("string"),
            ),
        ).alias("bk"),
    )
    b = k1.unionByName(k2)
    sizes = b.groupBy("bk").agg(F.count("*").alias("bs"))
    kept = b.join(sizes, "bk").where(F.col("bs") <= 100)
    l = kept.select("bk", "bs", F.col("doc_id").alias("id1"))
    r = kept.select(
        F.col("bk").alias("bk2"), F.col("doc_id").alias("id2")
    )
    pairs = (
        l.join(r, (F.col("bk") == F.col("bk2")) & (F.col("id1") < F.col("id2")))
        .groupBy("id1", "id2")
        .agg(
            F.countDistinct("bk").cast("long").alias("n_shared"),
            F.min("bs").cast("long").alias("min_bs"),
        )
    )
    wave = (
        F.when(F.col("n_shared") >= 2, 1)
        .when(F.col("min_bs") <= 10, 2)
        .otherwise(3)
        .cast("long")
    )
    return pairs.select("id1", "id2", "n_shared", "min_bs", wave.alias("wave"))


SQL_PROGRESSIVE_PAIRS = r"""
WITH b AS (
  SELECT doc_id,
         'k1:' || concat_ws('|', lang,
                            regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
  UNION ALL
  SELECT doc_id,
         'k2:' || concat_ws('|', source, CAST(n_chars // 100 AS VARCHAR))
  FROM documents
), sizes AS (
  SELECT bk, CAST(count(*) AS BIGINT) AS bs FROM b GROUP BY bk
), kept AS (
  SELECT b.doc_id, b.bk, s.bs FROM b JOIN sizes s USING (bk)
  WHERE s.bs <= 100
), pairs AS (
  SELECT l.doc_id AS id1, r.doc_id AS id2,
         CAST(count(DISTINCT l.bk) AS BIGINT) AS n_shared,
         CAST(min(l.bs) AS BIGINT) AS min_bs
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_shared, min_bs,
       CAST(CASE WHEN n_shared >= 2 THEN 1
                 WHEN min_bs <= 10 THEN 2 ELSE 3 END AS BIGINT) AS wave
FROM pairs
"""


_ABK_CAP = 100


def q_adaptive_block_keys(spark, sf_dir):
    """Adaptive blocking-key refinement — the structural answer to the
    fixed-cap collapse the 10× stress measured (BENCH.md: a fixed key
    with a fixed cap empties under corpus growth because every block
    outgrows the cap): blocks that overflow get a LONGER key, level by
    level, so block sizes stay bounded while coverage degrades
    gracefully instead of collapsing to zero. Levels: (lang | tok1) →
    (… | tok2) → (… | 100-char length bucket); a doc settles at the
    shallowest level whose block fits the cap; docs whose level-3 block
    still overflows are emitted with level = −1 (the recorded drop set
    — never silent). Three unrolled rounds, each one
    map-side-combinable groupBy + one key join — the iterative-
    refinement shape a 1000-executor run keeps shuffling on the key."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim("text"), r"\s+")
    base = d.select(
        "doc_id",
        F.concat_ws(
            "|", F.col("lang"), F.element_at(toks, 1)
        ).alias("k1"),
        F.concat_ws(
            "|", F.col("lang"), F.element_at(toks, 1), F.element_at(toks, 2)
        ).alias("k2"),
        F.concat_ws(
            "|",
            F.col("lang"),
            F.element_at(toks, 1),
            F.element_at(toks, 2),
            F.floor(F.col("n_chars") / 100).cast("long").cast("string"),
        ).alias("k3"),
    )

    def settle(rel, key, level):
        sizes = rel.groupBy(key).agg(F.count(F.lit(1)).alias("_bs"))
        j = rel.join(sizes, key)
        fit = j.where(F.col("_bs") <= _ABK_CAP).select(
            "doc_id",
            F.col(key).alias("bk"),
            F.lit(level).cast("long").alias("level"),
            F.col("_bs").cast("long").alias("block_size"),
        )
        rest = j.where(F.col("_bs") > _ABK_CAP).drop("_bs")
        return fit, rest

    fit1, rest1 = settle(base, "k1", 1)
    fit2, rest2 = settle(rest1, "k2", 2)
    fit3, rest3 = settle(rest2, "k3", 3)
    sizes3 = rest3.groupBy("k3").agg(F.count(F.lit(1)).alias("_bs"))
    dropped = rest3.join(sizes3, "k3").select(
        "doc_id",
        F.col("k3").alias("bk"),
        F.lit(-1).cast("long").alias("level"),
        F.col("_bs").cast("long").alias("block_size"),
    )
    return fit1.unionByName(fit2).unionByName(fit3).unionByName(dropped)


SQL_ADAPTIVE_BLOCK_KEYS = rf"""
WITH base AS (
  SELECT doc_id,
         concat_ws('|', lang,
                   regexp_split_to_array(trim(text), '\s+')[1]) AS k1,
         concat_ws('|', lang,
                   regexp_split_to_array(trim(text), '\s+')[1],
                   regexp_split_to_array(trim(text), '\s+')[2]) AS k2,
         concat_ws('|', lang,
                   regexp_split_to_array(trim(text), '\s+')[1],
                   regexp_split_to_array(trim(text), '\s+')[2],
                   CAST(n_chars // 100 AS VARCHAR)) AS k3
  FROM documents
), s1 AS (
  SELECT k1, CAST(count(*) AS BIGINT) AS bs FROM base GROUP BY 1
), f1 AS (
  SELECT b.doc_id, b.k1 AS bk, CAST(1 AS BIGINT) AS level, s.bs
  FROM base b JOIN s1 s USING (k1) WHERE s.bs <= {_ABK_CAP}
), r1 AS (
  SELECT b.* FROM base b JOIN s1 s USING (k1) WHERE s.bs > {_ABK_CAP}
), s2 AS (
  SELECT k2, CAST(count(*) AS BIGINT) AS bs FROM r1 GROUP BY 1
), f2 AS (
  SELECT b.doc_id, b.k2 AS bk, CAST(2 AS BIGINT) AS level, s.bs
  FROM r1 b JOIN s2 s USING (k2) WHERE s.bs <= {_ABK_CAP}
), r2 AS (
  SELECT b.* FROM r1 b JOIN s2 s USING (k2) WHERE s.bs > {_ABK_CAP}
), s3 AS (
  SELECT k3, CAST(count(*) AS BIGINT) AS bs FROM r2 GROUP BY 1
), f3 AS (
  SELECT b.doc_id, b.k3 AS bk, CAST(3 AS BIGINT) AS level, s.bs
  FROM r2 b JOIN s3 s USING (k3) WHERE s.bs <= {_ABK_CAP}
), f4 AS (
  SELECT b.doc_id, b.k3 AS bk, CAST(-1 AS BIGINT) AS level, s.bs
  FROM r2 b JOIN s3 s USING (k3) WHERE s.bs > {_ABK_CAP}
)
SELECT doc_id, bk, level, bs AS block_size FROM f1
UNION ALL SELECT doc_id, bk, level, bs FROM f2
UNION ALL SELECT doc_id, bk, level, bs FROM f3
UNION ALL SELECT doc_id, bk, level, bs FROM f4
"""


def q_bucketed_candidates(spark, sf_dir):
    """J1 over a WRITE-TIME BUCKETED block table: pair-identical to
    q_block_candidates (it shares SQL_BLOCK_CANDIDATES as its oracle), but
    the block table is persisted with bucketBy(16, bk) + sortBy first and
    candidate generation reuses that layout — the bk-keyed size aggregate,
    the size join and the candidate self-join all inherit the bucket
    hash-partitioning from the scan, so the plan's only Exchange is the
    final pair dedup (asserted in tests/test_plans.py). At 100 TB the block
    table is the pipeline's biggest relation; this is the rerun/incremental
    path that scans co-located buckets instead of re-shuffling it."""
    import hashlib

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("record_id"),
        F.concat_ws(
            "|", F.col("lang"), F.element_at(F.split(F.trim("text"), r"\s+"), 1)
        ).alias("bk"),
    )
    tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    table = f"bucketed_blocks_{tag}"
    B.write_bucketed_blocks(d, table, n_buckets=16)
    return B.bucketed_candidate_pairs(spark, table, max_block=100)


SQL_BLOCK_CANDIDATES = """
WITH b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
)
SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
"""


def q_cluster_assembly(spark, sf_dir):
    """A1 shape: per-group size, mean confidence, member list; size>1 only."""
    d = _docs(spark, sf_dir)
    conf = _r6(F.col("n_chars") / 1000.0)
    return (
        d.select(
            F.element_at(F.split(F.trim("text"), r"\s+"), 1).alias("cluster_key"),
            "doc_id",
            conf.alias("conf"),
        )
        .groupBy("cluster_key")
        .agg(
            F.count("*").alias("group_size"),
            _r6(F.avg("conf")).alias("confidence_score"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("records"),
        )
        .where(F.col("group_size") > 1)
    )


SQL_CLUSTER_ASSEMBLY = """
SELECT regexp_split_to_array(trim(text), '\\s+')[1] AS cluster_key,
       count(*) AS group_size,
       round(avg(round(n_chars / 1000.0, 6)), 6) AS confidence_score,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS records
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""


def q_anti_join_removal(spark, sf_dir):
    """J3: export minus removal set (doc_id % 7 = 0 plays the reviewed-
    removals table)."""
    d = _docs(spark, sf_dir)
    removals = d.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return d.join(removals, "doc_id", "left_anti").select("doc_id", "lang", "source")


SQL_ANTI_JOIN_REMOVAL = """
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
"""


def q_semi_join_training(spark, sf_dir):
    """J2/P5: records referenced by a training subset via all-field
    equality semi-join (text equality here — the composite-key form)."""
    d = _docs(spark, sf_dir)
    pairs = d.where(F.col("source") == "src0").select("text")
    return d.join(pairs, "text", "left_semi").select("doc_id", "source")


SQL_SEMI_JOIN_TRAINING = """
SELECT doc_id, source FROM documents
WHERE text IN (SELECT text FROM documents WHERE source = 'src0')
"""


def q_sort_by_confidence(spark, sf_dir):
    """O1: global sort by score desc, deterministic tie-break, top 50."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.col("n_chars").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )


SQL_SORT_BY_CONFIDENCE = """
SELECT doc_id, n_chars AS score FROM documents
ORDER BY score DESC, doc_id ASC LIMIT 50
"""


def q_match_score(spark, sf_dir):
    """A3: per candidate pair, count of matching selected columns and the
    all/none/partial classification (dedupe_script.py:443-454)."""
    pairs = q_block_candidates(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    l = d.select(
        F.col("doc_id").alias("id1"),
        F.col("lang").alias("l_lang"),
        F.col("source").alias("l_source"),
    )
    r = d.select(
        F.col("doc_id").alias("id2"),
        F.col("lang").alias("r_lang"),
        F.col("source").alias("r_source"),
    )
    n_sel = 2
    score = (F.col("l_lang") == F.col("r_lang")).cast("int") + (
        F.col("l_source") == F.col("r_source")
    ).cast("int")
    return (
        pairs.join(l, "id1")
        .join(r, "id2")
        .select(
            "id1",
            "id2",
            score.alias("match_score"),
            F.when(score == n_sel, "all_match")
            .when(score == 0, "none_match")
            .otherwise("partial")
            .alias("match_class"),
        )
    )


SQL_MATCH_SCORE = f"""
WITH b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
)
SELECT p.id1, p.id2,
       (CAST(dl.lang = dr.lang AS INT) + CAST(dl.source = dr.source AS INT))
         AS match_score,
       CASE (CAST(dl.lang = dr.lang AS INT) + CAST(dl.source = dr.source AS INT))
         WHEN 2 THEN 'all_match' WHEN 0 THEN 'none_match'
         ELSE 'partial' END AS match_class
FROM pairs p
JOIN documents dl ON dl.doc_id = p.id1
JOIN documents dr ON dr.doc_id = p.id2
"""


def q_per_source_counts(spark, sf_dir):
    """A2: per-file record counts."""
    return (
        _docs(spark, sf_dir).groupBy("source").agg(F.count("*").alias("n_records"))
    )


SQL_PER_SOURCE_COUNTS = """
SELECT source, count(*) AS n_records FROM documents GROUP BY source
"""


def q_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish subword proxy."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.subword_count("text").alias("n_subwords"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       {T.token_count_sql('text')} AS n_tokens,
       {T.subword_count_sql('text')} AS n_subwords
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: position-weighted token signature."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.fingerprint("text").alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {T.fingerprint_sql('text')} AS fingerprint FROM documents
"""


def q_quality_scores(spark, sf_dir):
    """Quality scoring: length/punct/digit/stopword/repetition signals."""
    d = _docs(spark, sf_dir)
    q = T.quality_features("text")
    return d.select(
        "doc_id",
        q["n_chars"].alias("n_chars_q"),
        q["n_tokens"].alias("n_tokens"),
        _r6(q["mean_token_len"]).alias("mean_token_len"),
        _r6(q["punct_ratio"]).alias("punct_ratio"),
        _r6(q["digit_ratio"]).alias("digit_ratio"),
        _r6(q["stopword_ratio"]).alias("stopword_ratio"),
        _r6(q["uniq_token_ratio"]).alias("uniq_token_ratio"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)
SQL_QUALITY_SCORES = f"""
WITH t AS (
  SELECT doc_id, text,
         len(text) AS n_chars_q,
         {T.token_count_sql('text')} AS n_tokens,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id, n_chars_q, n_tokens,
  round((n_chars_q - (n_tokens - 1)) / greatest(n_tokens, 1), 6) AS mean_token_len,
  round(len(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
        / greatest(n_chars_q, 1), 6) AS punct_ratio,
  round(len(regexp_replace(text, '[^0-9]', '', 'g'))
        / greatest(n_chars_q, 1), 6) AS digit_ratio,
  round(len(list_filter(toks, x -> list_contains([{_SW_LIST}], lower(x))))
        / greatest(n_tokens, 1), 6) AS stopword_ratio,
  round(len(list_distinct(list_transform(toks, x -> lower(x))))
        / greatest(n_tokens, 1), 6) AS uniq_token_ratio
FROM t
"""


def q_quality_filter(spark, sf_dir):
    """The composed keep/drop verdict a training-data pipeline actually
    applies (Gopher-style rules, Rae et al. 2021 §A1.1 adapted to this
    corpus's signals): drop when too short/too long, mean token length
    out of band, stopword ratio ~0, or repetition above threshold.
    Pure composition of quality_scores + repetition_scores columns — one
    join keyed by doc id; thresholds are data-set constants, not learned."""
    q = q_quality_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio"
    )
    r = q_repetition_scores(spark, sf_dir).select(
        "doc_id", "top_bigram_frac", "dup_bigram_frac"
    )
    j = q.join(r, "doc_id")
    keep = (
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100_000)
        & (F.col("mean_token_len") >= 2)
        & (F.col("mean_token_len") <= 12)
        & (F.col("stopword_ratio") >= 0.01)
        & (F.col("top_bigram_frac") <= 0.35)
        & (F.col("dup_bigram_frac") <= 0.6)
    )
    return j.select("doc_id", keep.cast("int").alias("keep"))


def _quality_filter_sql() -> str:
    return f"""
WITH q AS ({SQL_QUALITY_SCORES}), r AS ({SQL_REPETITION_SCORES})
SELECT q.doc_id,
       CAST(q.n_tokens >= 50 AND q.n_tokens <= 100000
            AND q.mean_token_len >= 2 AND q.mean_token_len <= 12
            AND q.stopword_ratio >= 0.01
            AND r.top_bigram_frac <= 0.35
            AND r.dup_bigram_frac <= 0.6 AS INT) AS keep
FROM q JOIN r ON r.doc_id = q.doc_id
"""


def q_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + dedup-by-canonical-url (functions.urls): the
    input_hint pages table is url-keyed, and a crawl sees the same page as
    many raw spellings (case, default port, fragment, tracking params,
    param order). Raw URLs are synthesized deterministically from doc_id
    (both engines build the identical strings — no external data), then
    canonicalized by the engine under test; dup_family_size counts docs
    collapsing to one canonical URL. Per-row projection, no Python, one
    window keyed by the canonical url."""
    from .functions.urls import canonical_url

    d = _docs(spark, sf_dir)
    bid = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(
            F.lit("http://www.example"), bid, F.lit(".com/path/"), bid,
            F.lit("?a=1&b=2")))
        .when(v == 1, F.concat(
            F.lit("HTTP://WWW.EXAMPLE"), bid, F.lit(".COM:80/path/"), bid,
            F.lit("?b=2&a=1")))
        .when(v == 2, F.concat(
            F.lit("http://www.example"), bid, F.lit(".com/path/"), bid,
            F.lit("?b=2&utm_source=x&a=1#frag")))
        .otherwise(F.concat(
            F.lit("https://www.example"), bid, F.lit(".com:443/path/"), bid,
            F.lit("/?a=1&fbclid=zzz&b=2")))
    )
    c = d.select("doc_id", raw.alias("raw_url")).withColumn(
        "canon_url", canonical_url("raw_url")
    )
    w = Window.partitionBy("canon_url")
    return c.select(
        "doc_id", "raw_url", "canon_url",
        F.count("*").over(w).alias("dup_family_size"),
    )


def _url_dedup_sql() -> str:
    from .functions.urls import canonical_url_sql

    return f"""
WITH r AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'http://www.example' || (doc_id % 100) || '.com/path/'
                       || (doc_id % 100) || '?a=1&b=2'
           WHEN 1 THEN 'HTTP://WWW.EXAMPLE' || (doc_id % 100) || '.COM:80/path/'
                       || (doc_id % 100) || '?b=2&a=1'
           WHEN 2 THEN 'http://www.example' || (doc_id % 100) || '.com/path/'
                       || (doc_id % 100) || '?b=2&utm_source=x&a=1#frag'
           ELSE 'https://www.example' || (doc_id % 100) || '.com:443/path/'
                || (doc_id % 100) || '/?a=1&fbclid=zzz&b=2'
         END AS raw_url
  FROM documents
), c AS (
  SELECT doc_id, raw_url, {canonical_url_sql('raw_url')} AS canon_url FROM r
)
SELECT doc_id, raw_url, canon_url,
       count(*) OVER (PARTITION BY canon_url) AS dup_family_size
FROM c
"""


SQL_URL_CANONICAL_DEDUP = _url_dedup_sql()


def q_domain_filter(spark, sf_dir):
    """Domain-level URL filtering (C4 blocklist / RefinedWeb §3.1 made
    corpus-derived): flag domains that are template mills (exact-dup
    fraction >= 0.2) or stub farms (mean page length < 150 chars), emit
    every page with its domain's signals and the kept verdict. The
    corpus has no url column, so the query synthesizes deterministic
    raw URLs over 23 domains (case/www/port spelling variants exercise
    url_domain on both engines) and plants two bad domains: site0.com
    serves one shared template body (dup_frac = 1) and site1.com serves
    4-char stubs — IDENTICAL string math on both engines, same
    injection idiom as q_pii_scrub."""
    from .operators.domains import domain_filter

    d = _docs(spark, sf_dir)
    g = (F.col("doc_id") % 23).cast("string")
    i = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 3
    url = (
        F.when(v == 0, F.concat(F.lit("http://www.site"), g, F.lit(".com/p/"), i))
        .when(v == 1, F.concat(F.lit("HTTPS://SITE"), g, F.lit(".COM/p/"), i))
        .otherwise(F.concat(F.lit("http://site"), g, F.lit(".com:80/p/"), i))
    )
    text = (
        F.when(F.col("doc_id") % 23 == 0, F.lit("shared template page body"))
        .when(F.col("doc_id") % 23 == 1, F.lit("thin"))
        .otherwise(F.col("text"))
    )
    pages = d.select("doc_id", url.alias("url"), text.alias("text"))
    return domain_filter(pages)


def _domain_filter_sql() -> str:
    from .functions.urls import url_domain_sql

    return f"""
WITH pg AS (
  SELECT doc_id,
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN 'http://www.site' || (doc_id % 23) || '.com/p/' || doc_id
      WHEN 1 THEN 'HTTPS://SITE' || (doc_id % 23) || '.COM/p/' || doc_id
      ELSE 'http://site' || (doc_id % 23) || '.com:80/p/' || doc_id
    END AS url,
    CASE WHEN doc_id % 23 = 0 THEN 'shared template page body'
         WHEN doc_id % 23 = 1 THEN 'thin'
         ELSE text END AS text
  FROM documents
), p AS (
  SELECT doc_id, {url_domain_sql('url')} AS domain,
         sha256(coalesce(text, '')) AS h,
         len(coalesce(text, '')) AS n_chars
  FROM pg
), hc AS (
  SELECT h, count(*) AS c FROM p GROUP BY h
), s AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
  FROM p JOIN hc USING (h) GROUP BY domain
), v AS (
  SELECT domain, n_docs,
         round(CAST(n_dup AS DOUBLE) / n_docs, 6) AS dup_frac, avg_chars,
         NOT (round(CAST(n_dup AS DOUBLE) / n_docs, 6) >= 0.2
              OR avg_chars < 150.0) AS kept
  FROM s
)
SELECT p.doc_id, p.domain, v.n_docs, v.dup_frac, v.avg_chars, v.kept
FROM p JOIN v USING (domain)
"""


SQL_DOMAIN_FILTER = _domain_filter_sql()


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL source path with exact fidelity: the documents table exported
    to JSONL (the standard web-text interchange format), read back through
    the json source with an EXPLICIT DDL schema (no driver-side inference
    scan at scale), must hash-equal the parquet original — the oracle reads
    the parquet directly. The all-string/lineage union variant of the same
    source is exercised in tests/test_sources.py."""
    import shutil

    d = _docs(spark, sf_dir)
    out = _proc_stage_dir(sf_dir, "docs_jsonl")
    shutil.rmtree(out, ignore_errors=True)
    d.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


SQL_JSONL_ROUNDTRIP = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def q_warc_roundtrip(spark, sf_dir):
    """The WARC source in the correctness gate (sources/warc.py):
    documents → deterministic html pages → ``write_warc`` (one archive
    per partition, per-record gzip members, mtime=0) → SPLIT-AWARE
    ranged re-read (64 KiB ranges, so gzip-member resync actually runs
    at the gate) → extracted fields. The round trip is lossless, so the
    oracle derives the expected table directly from documents; byte
    identity is enforced as sha256 over the read-back html bytes — the
    north rule's per-row invariant at the archive boundary. The
    warc_ts comes back through WARC-Date parsing (UTC session pins
    unix_micros)."""
    import shutil

    from .sources.warc import read_warc, write_warc

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.concat(
            F.lit("http://corpus.example/doc/"), F.col("doc_id")
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
    )
    out = _proc_stage_dir(sf_dir, "docs_warc")
    shutil.rmtree(out, ignore_errors=True)
    write_warc(pages.repartition(8), out).collect()
    back = read_warc(
        spark, os.path.join(out, "*.warc.gz"), split_bytes=1 << 16
    )
    return back.select(
        "url",
        F.sha2(F.col("html"), 256).alias("html_sha"),
        "http_status",
        F.unix_micros(F.col("warc_ts")).alias("ts_unix"),
    )


SQL_WARC_ROUNDTRIP = """
SELECT 'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       sha256('<html><body><p>' || coalesce(text, '') || '</p></body></html>')
         AS html_sha,
       200 AS http_status,
       CAST(1704067200000000 AS BIGINT) AS ts_unix
FROM documents
"""


def q_repetition_scores(spark, sf_dir):
    """Gopher-style word-repetition quality signals (Rae et al. 2021):
    top-unigram / top-bigram / duplicate-bigram fractions per document —
    the boilerplate/SEO-spam filters a web-text training pipeline applies
    after the basic quality_scores. Explode → (doc, gram) count → per-doc
    max; every shuffle keys by document id (see text.repetition_scores)."""
    return T.repetition_scores(_docs(spark, sf_dir))


SQL_REPETITION_SCORES = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
  FROM documents
), b AS (
  SELECT doc_id, len(toks) AS n, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bgs
  FROM t
), u AS (
  SELECT doc_id, max(c) AS c1max FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS g FROM b) GROUP BY doc_id, g)
  GROUP BY doc_id
), bb AS (
  SELECT doc_id, max(c) AS c2max, count(*) AS d2, sum(c) AS m FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(bgs) AS g FROM b) GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_tokens,
  round(coalesce(u.c1max, 0) / greatest(b.n, 1), 6) AS top_unigram_frac,
  round(coalesce(bb.c2max, 0) / greatest(b.n - 1, 1), 6) AS top_bigram_frac,
  round((coalesce(bb.m, 0) - coalesce(bb.d2, 0)) / greatest(b.n - 1, 1), 6)
    AS dup_bigram_frac
FROM b LEFT JOIN u USING (doc_id) LEFT JOIN bb USING (doc_id)
"""


def q_lang_id(spark, sf_dir):
    """Language ID via stopword-marker argmax (first-max tie-break)."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.lang_id("text").alias("pred_lang")
    )


def q_lang_confusion(spark, sf_dir):
    """Confusion matrix of the stopword-marker language classifier vs
    the labeled lang column — the evaluation loop lang_id was missing:
    one (actual, predicted) grid with counts plus per-cell recall of
    the actual class in exact integer micros (count·1e6 div row total).
    One map-side-combinable groupBy; the class totals ride a window
    over the already-shuffled actual key."""
    pred = _docs(spark, sf_dir).select(
        "doc_id", "lang", T.lang_id("text").alias("pred_lang")
    )
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        F.expr("n * 1000000").cast("long").alias("_s"),
        F.sum("n").over(w).alias("_t"),
    ).select(
        "lang",
        "pred_lang",
        "n",
        F.expr("_s div _t").alias("recall_micros"),
    )


def _sql_lang_confusion() -> str:
    return f"""
WITH pred AS (
  SELECT p.doc_id, d.lang, p.pred_lang
  FROM ({_lang_sql()}) p JOIN documents d USING (doc_id)
), cells AS (
  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
)
SELECT lang, pred_lang, n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS recall_micros
FROM cells
"""


def _lang_sql() -> str:
    scores = []
    for lang, words in T.LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        scores.append(
            f"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            f"x -> list_contains([{lst}], x))) AS s_{lang}"
        )
    langs = list(T.LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = f"CASE WHEN {mx} = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = {mx} THEN '{l}'" for l in langs
    ) + " END"
    return (
        "WITH t AS (SELECT doc_id, " + ", ".join(scores) + " FROM documents) "
        f"SELECT doc_id, {case} AS pred_lang FROM t"
    )


SQL_LANG_ID = _lang_sql()


def q_window_interleave(spark, sf_dir):
    """O3 ranking shape: row_number per source bucket by doc_id."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )


SQL_WINDOW_INTERLEAVE = """
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
FROM documents
"""


def q_embedding_topk(spark, sf_dir):
    """ANN baseline: exact cosine top-10 for query vec_id=0 (built-in array
    ops; deterministic tie-break)."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select("vec_id", _r6(D.cosine_expr("qv", "v")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
                                   z -> z[1] * z[2]))
           / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x)))
              * sqrt(list_sum(list_transform(q.qv, x -> x*x)))), 6) AS cosine
  FROM embeddings e, q WHERE e.vec_id != 0
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 50  # per-modality candidate depth feeding the fusion


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    (Cormack, Clarke & Büttcher, SIGIR 2009): the modern RAG-corpus
    retrieval shape — BM25 keyword ranking and embedding-cosine ranking
    each produce a depth-50 list over the SAME id space (vec_id ≡
    doc_id in the testdata), fused by Σ 1/(60+rank) without any score
    calibration between the incomparable scales. Contribution is exact
    integer ``1e6 div (60+rank)`` micro-units so the fused order is
    engine-portable; a doc absent from one list contributes 0 there
    (rank −1 in the output marks absence). Scale shape: both rankings
    end in TakeOrderedAndProject (depth 50), the fusion is a full-outer
    join of two ≤50-row relations — driver-light no matter the corpus
    size."""
    from .operators.search import bm25_topk

    lex = bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=_RRF_DEPTH).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rnk").cast("long").alias("lex_rnk"),
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").cast("long").alias("doc_id"),
            _r6(D.cosine_expr("qv", "v")).alias("cosine"),
        )
    )
    vec = (
        scored.orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
            .cast("long")
            .alias("vec_rnk"),
        )
    )
    j = lex.join(vec, "doc_id", "full_outer")
    contrib = F.coalesce(
        F.expr(f"1000000 div ({_RRF_K} + lex_rnk)"), F.lit(0)
    ) + F.coalesce(F.expr(f"1000000 div ({_RRF_K} + vec_rnk)"), F.lit(0))
    return (
        j.select(
            "doc_id",
            F.coalesce("lex_rnk", F.lit(-1)).cast("long").alias("lex_rnk"),
            F.coalesce("vec_rnk", F.lit(-1)).cast("long").alias("vec_rnk"),
            contrib.cast("long").alias("rrf_micros"),
        )
        .orderBy(F.desc("rrf_micros"), F.asc("doc_id"))
        .limit(10)
    )


def _sql_hybrid_search_rrf() -> str:
    from .operators.search import bm25_topk_sql

    return f"""
WITH lex AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS BIGINT) AS lex_rnk
  FROM ({bm25_topk_sql(_BM25_TERMS, k=_RRF_DEPTH)})
), vq AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), vs AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
         round(
           list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
                                   z -> z[1] * z[2]))
           / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x)))
              * sqrt(list_sum(list_transform(q.qv, x -> x*x)))), 6) AS cosine
  FROM embeddings e, vq q WHERE e.vec_id != 0
), vecr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
           AS vec_rnk
  FROM vs ORDER BY cosine DESC, doc_id ASC LIMIT {_RRF_DEPTH}
)
SELECT doc_id,
       coalesce(lex_rnk, -1) AS lex_rnk,
       coalesce(vec_rnk, -1) AS vec_rnk,
       CAST(coalesce(1000000 // ({_RRF_K} + lex_rnk), 0)
            + coalesce(1000000 // ({_RRF_K} + vec_rnk), 0) AS BIGINT)
         AS rrf_micros
FROM lex FULL JOIN vecr USING (doc_id)
ORDER BY rrf_micros DESC, doc_id ASC LIMIT 10
"""


_MMR_DEPTH = 20  # candidate pool depth feeding the MMR rounds
_MMR_K = 5


def q_mmr_diversify(spark, sf_dir):
    """MMR-diversified top-5 (Carbonell & Goldstein 1998) over the
    exact-cosine top-20 candidate pool for query vec_id=0: λ=0.7
    relevance vs redundancy, all arithmetic exact int64 micro-units
    (score = 7·rel − 3·maxsim, units 10×micro) so each greedy pick and
    tie-break replays bit-for-bit in SQL. The k-round loop runs on the
    CONTRACTUALLY bounded 20-row pool (TakeOrderedAndProject) — see
    operators/ann.mmr_rerank for why that licenses the driver loop."""
    from .operators.ann import mmr_rerank

    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").cast("long").alias("doc_id"),
            "v",
            F.round(D.cosine_expr("qv", "v") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("rel_micros"),
        )
    )
    top = (
        scored.orderBy(F.col("rel_micros").desc(), F.col("doc_id").asc())
        .limit(_MMR_DEPTH)
        .localCheckpoint(eager=True)
    )
    x = top.select(
        F.col("doc_id").alias("a"), F.col("v").alias("xv")
    )
    y = top.select(
        F.col("doc_id").alias("b"), F.col("v").alias("yv")
    )
    sims = (
        x.crossJoin(y)
        .where(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(D.cosine_expr("xv", "yv") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("sim_micros"),
        )
    )
    return mmr_rerank(
        top.select("doc_id", "rel_micros"), sims, k=_MMR_K, lam=(7, 10)
    )


def _mmr_sql(k: int = _MMR_K, depth: int = _MMR_DEPTH) -> str:
    """Unrolled MMR rounds: each selection is a MATERIALIZED CTE (the
    next round references it twice — max-sim join and NOT IN guard)."""
    cos = (
        "list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
        " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        " * sqrt(list_sum(list_transform({b}, x -> x*x))))"
    )
    parts = [
        "vq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv"
        " FROM embeddings WHERE vec_id = 0)",
        f"""sc AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
         CAST(e.embedding AS DOUBLE[]) AS v,
         CAST(round(({cos.format(a='CAST(e.embedding AS DOUBLE[])', b='q.qv')})
                    * 1000000, 0) AS BIGINT) AS rel
  FROM embeddings e, vq q WHERE e.vec_id != 0
)""",
        f"""cand AS MATERIALIZED (
  SELECT doc_id, v, rel FROM sc ORDER BY rel DESC, doc_id ASC LIMIT {depth}
)""",
        f"""sims AS MATERIALIZED (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(round(({cos.format(a='x.v', b='y.v')}) * 1000000, 0)
              AS BIGINT) AS sim
  FROM cand x JOIN cand y ON x.doc_id != y.doc_id
)""",
        """sel1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS rnk, doc_id, rel,
         CAST(rel * 7 AS BIGINT) AS score
  FROM cand ORDER BY rel DESC, doc_id ASC LIMIT 1
)""",
    ]
    for r in range(2, k + 1):
        p = r - 1
        parts.append(
            f"""ms{r} AS (
  SELECT s.a AS doc_id, max(s.sim) AS ms
  FROM sims s JOIN sel{p} p ON s.b = p.doc_id GROUP BY 1
)"""
        )
        parts.append(
            f"""pick{r} AS (
  SELECT CAST({r} AS BIGINT) AS rnk, c.doc_id, c.rel,
         CAST(c.rel * 7 - coalesce(m.ms, 0) * 3 AS BIGINT) AS score
  FROM cand c LEFT JOIN ms{r} m USING (doc_id)
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{p})
  ORDER BY score DESC, c.doc_id ASC LIMIT 1
)"""
        )
        parts.append(
            f"""sel{r} AS MATERIALIZED (
  SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{r}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT rnk, doc_id, rel AS rel_micros, score AS mmr_score FROM sel{k}
"""
    )


PHONETIC_CAP = 64  # soundex keys with more distinct words are dropped


def q_phonetic_pairs(spark, sf_dir):
    """Phonetic blocking (American Soundex, Russell 1918) — the classic
    record-linkage blocking family member the token/prefix predicates
    miss: distinct surnames that SOUND alike share a 4-char key and
    become candidate pairs ("smith"/"smyth" → S530). Input is the
    customer table with a surname synthesized deterministically per row
    from the public common-surname directory (SURNAMES[custkey % N] —
    the pii_scrub idiom: both engines derive identical inputs, and the
    directory's real spelling-variant groups are exactly what phonetic
    blocking exists to catch; this corpus has no name columns).
    Pipeline: surname groupBy (map-side combinable — the pair join runs
    on the NAME-DIRECTORY relation, row count never reaches the
    self-join), soundex as a pure built-in expression chain
    (functions/phonetic.py — translate + higher-order fold, no UDF,
    no shuffle for the encoding itself), mega-key cap at PHONETIC_CAP
    distinct names (the engine's standard documented block-size cap:
    at web scale a degenerate key like S530 would otherwise go
    quadratic), then the capped within-key self-join with w1 < w2.
    DuckDB re-derives the ENTIRE chain including the soundex fold
    bit-for-bit (soundex_sql)."""
    from .functions.phonetic import SURNAMES, soundex_col

    n = len(SURNAMES)
    name = F.element_at(
        F.array(*[F.lit(s) for s in SURNAMES]),
        (F.col("c_custkey") % n + 1).cast("int"),
    )
    cust = _tbl(spark, sf_dir, "customer").select(name.alias("w"))
    vocab = cust.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    keyed = vocab.select(
        "w", "freq", soundex_col("w").alias("sdx")
    ).where(F.col("sdx").isNotNull())
    small = (
        keyed.groupBy("sdx")
        .agg(F.count(F.lit(1)).alias("gs"))
        .where(F.col("gs") <= PHONETIC_CAP)
        .select("sdx")
    )
    kept = keyed.join(small, "sdx")
    a = kept.select(
        "sdx", F.col("w").alias("w1"), F.col("freq").alias("freq1")
    )
    b = kept.select(
        F.col("sdx").alias("sdx2"),
        F.col("w").alias("w2"),
        F.col("freq").alias("freq2"),
    )
    return a.join(b, (a.sdx == b.sdx2) & (a.w1 < b.w2)).select(
        "sdx", "w1", "w2", "freq1", "freq2"
    )


def _phonetic_pairs_sql() -> str:
    from .functions.phonetic import SURNAMES, soundex_sql

    arr = "[" + ", ".join(f"'{s}'" for s in SURNAMES) + "]"
    return f"""
WITH vocab AS (
  SELECT ({arr})[CAST(c_custkey % {len(SURNAMES)} AS INT) + 1] AS w,
         CAST(count(*) AS BIGINT) AS freq
  FROM customer GROUP BY 1
), keyed AS (
  SELECT w, freq, {soundex_sql('w')} AS sdx FROM vocab
), kept AS (
  SELECT * FROM keyed WHERE sdx IS NOT NULL AND sdx IN (
    SELECT sdx FROM keyed WHERE sdx IS NOT NULL
    GROUP BY sdx HAVING count(*) <= {PHONETIC_CAP})
)
SELECT a.sdx AS sdx, a.w AS w1, b.w AS w2,
       a.freq AS freq1, b.freq AS freq2
FROM kept a JOIN kept b ON a.sdx = b.sdx AND a.w < b.w
"""


SQL_PHONETIC_PAIRS = _phonetic_pairs_sql()


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact character-5-gram Jaccard over the (lang, first-token) block
    candidates, threshold 0.2 — the value-bearing exact twin of the
    MinHash-LSH approximation (same shingle definition, no sketching).
    All built-in array ops: the gram explode, intersect and union sizes
    stay JVM-side/whole-stage-codegen."""
    d = _docs(spark, sf_dir)
    pairs = q_block_candidates(spark, sf_dir)
    g = d.select("doc_id", B.ngram_array("text", n=5).alias("g"))
    l = g.select(F.col("doc_id").alias("id1"), F.col("g").alias("g1"))
    r = g.select(F.col("doc_id").alias("id2"), F.col("g").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    uni = F.size("g1") + F.size("g2") - inter
    jac = inter.cast("double") / uni
    return (
        pairs.join(l, "id1")
        .join(r, "id2")
        .select("id1", "id2", _r6(jac).alias("jaccard"))
        .where(F.col("jaccard") >= 0.2)
    )


SQL_NGRAM_JACCARD_PAIRS = r"""
WITH b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
)
SELECT id1, id2, jaccard FROM (
  SELECT p.id1, p.id2,
         round(CAST(len(list_intersect(gl.gr, grr.gr)) AS DOUBLE)
               / (len(gl.gr) + len(grr.gr) - len(list_intersect(gl.gr, grr.gr))),
               6) AS jaccard
  FROM pairs p
  JOIN g gl ON gl.doc_id = p.id1
  JOIN g grr ON grr.doc_id = p.id2
) WHERE jaccard >= 0.2
"""


def q_set_similarity_join(spark, sf_dir):
    """EXACT 3-word-shingle-set Jaccard self-join at 0.5 via prefix
    filtering
    (operators/ssjoin.py — AllPairs/PPJoin, Bayardo WWW'07 / Vernica
    SIGMOD'10): the only near-dup path with a completeness guarantee.
    The DuckDB twin is a brute-force token join, so the hash match is a
    proof the rarest-first prefix filter dropped no qualifying pair."""
    from .operators.ssjoin import set_similarity_join

    return set_similarity_join(_docs(spark, sf_dir), threshold=0.5)


def _sql_set_similarity_join() -> str:
    from .operators.ssjoin import set_similarity_join_sql

    return set_similarity_join_sql("documents", threshold=0.5)


SQL_SET_SIMILARITY_JOIN = _sql_set_similarity_join()


def q_edit_distance_pairs(spark, sf_dir):
    """EXACT edit-distance self-join at tau=1 via Ed-Join q-gram prefix
    filtering (operators/ssjoin.py::edit_distance_join — Gravano
    VLDB'01 / Xiao VLDB'08), the edit-distance member of the
    similarity-join family: every string pair within one edit is
    returned, verified by Spark's banded built-in ``levenshtein(l, r,
    tau)``. Key strings are each document's sanitized 24-char prefix
    (the near-identical-title/URL-variant shape of crawl dedup), and a
    deterministic typo'd twin (5th char deleted) is injected for every
    ``doc_id % 7 == 3`` so the result provably contains planted
    distance-1 pairs on top of the corpus's natural prefix dups. The
    DuckDB twin is the brute-force length-banded join — the hash match
    is a completeness proof: the rarest-first gram prefixes and the
    short-string bucket drop no qualifying pair."""
    from .operators.ssjoin import edit_distance_join

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    base = d.select(
        F.col("doc_id").alias("id"),
        F.regexp_replace(
            F.substring(F.col("text"), 1, 24), "[^a-z ]", ""
        ).alias("s"),
    )
    edited = base.where((F.col("id") % 7 == 3) & (F.length("s") >= 6)).select(
        (F.col("id") + F.lit(1000000000)).alias("id"),
        F.concat(
            F.substring(F.col("s"), 1, 4), F.expr("substring(s, 6)")
        ).alias("s"),
    )
    rel = base.unionByName(edited)
    out = edit_distance_join(rel, tau=1, id_col="id", str_col="s", q=4)
    return out.select("id1", "id2", F.col("dist").cast("long").alias("dist"))


def _sql_edit_distance_pairs() -> str:
    from .operators.ssjoin import edit_distance_join_sql

    rel = """
  WITH base AS (
    SELECT doc_id AS id,
           regexp_replace(substr(text, 1, 24), '[^a-z ]', '', 'g') AS s
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
  )
  SELECT id, s FROM base
  UNION ALL
  SELECT id + 1000000000 AS id, substr(s, 1, 4) || substr(s, 6) AS s
  FROM base WHERE id % 7 = 3 AND length(s) >= 6
"""
    return edit_distance_join_sql(rel, tau=1)


SQL_EDIT_DISTANCE_PAIRS = _sql_edit_distance_pairs()


_FS_GAMMAS = ("g_lang", "g_source", "g_tok1", "g_len")


def _fs_gamma_pairs(spark, sf_dir, with_value=False):
    """Shared comparison-vector relation for the probabilistic-linkage
    queries: block candidates + agreement vector γ = (lang, source,
    first-token, length-within-10%) + ``is_match`` labels from the EXACT
    shingle-set Jaccard ≥ 0.5 join (a diagnostic column for the
    supervised fit; the EM fit never reads it). ``with_value`` appends
    ``v_tok1`` — the SHARED first token when g_tok1 agrees, NULL
    otherwise (the tf-adjustment queries need the agreed value; the
    base queries must NOT see the extra column — their oracles pin the
    narrower schema)."""
    from .operators.ssjoin import set_similarity_join

    d = _docs(spark, sf_dir)
    cand = q_block_candidates(spark, sf_dir)
    attrs = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.element_at(F.split(F.trim("text"), r"\s+"), 1).alias("tok1"),
    )
    a1 = attrs.select(
        F.col("doc_id").alias("id1"),
        *[F.col(c).alias(f"{c}_1") for c in ("lang", "source", "n_chars", "tok1")],
    )
    a2 = attrs.select(
        F.col("doc_id").alias("id2"),
        *[F.col(c).alias(f"{c}_2") for c in ("lang", "source", "n_chars", "tok1")],
    )
    truth = set_similarity_join(d, threshold=0.5, n=3).select(
        "id1", "id2", F.lit(1).alias("mk")
    )
    lo, hi = F.least("n_chars_1", "n_chars_2"), F.greatest("n_chars_1", "n_chars_2")
    cols = [
        F.col("id1"),
        F.col("id2"),
        F.when(F.col("mk").isNotNull(), 1).otherwise(0).alias("is_match"),
        F.when(F.col("lang_1") == F.col("lang_2"), 1).otherwise(0).alias("g_lang"),
        F.when(F.col("source_1") == F.col("source_2"), 1)
        .otherwise(0)
        .alias("g_source"),
        F.when(F.col("tok1_1") == F.col("tok1_2"), 1).otherwise(0).alias("g_tok1"),
        F.when(hi == 0, 1)
        .when(lo.cast("double") / hi >= 0.9, 1)
        .otherwise(0)
        .alias("g_len"),
    ]
    if with_value:
        cols.append(
            F.when(F.col("tok1_1") == F.col("tok1_2"), F.col("tok1_1")).alias(
                "v_tok1"
            )
        )
    pairs = (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .join(truth, ["id1", "id2"], "left")
        .select(*cols)
    )
    return pairs


def _canon_pairs(df):
    """Canonical (min, max) int64 pair keys — the sketch queries order
    id1 < id2 as STRINGS ('10' < '9'), the exact join as numbers; both
    sides must agree before any pair-set comparison."""
    a = F.col("id1").cast("long")
    b = F.col("id2").cast("long")
    return df.select(
        F.least(a, b).alias("id1"), F.greatest(a, b).alias("id2")
    ).distinct()


def q_sketch_recall(spark, sf_dir):
    """Dedup-method scorecard: precision/recall of every sketch-based
    near-dup path against the EXACT set-similarity truth (the one
    relation in the engine with a completeness guarantee). Quantifies
    what each approximation trades: MinHash-LSH verifies 5-gram Jaccard
    ≥ 0.7 (stricter than the 3-word-shingle ≥ 0.5 truth — high
    precision, partial recall), SimHash finds Hamming-near fingerprints,
    the blocked n-gram join inherits its block key's recall ceiling
    (cf. `blocking_quality`). The numbers are counts and two exact
    divisions — fully re-derived by composing the methods' own oracle
    SQL as subqueries, so the scorecard can't drift from the queries it
    scores."""
    # truth is the most expensive relation here and every branch reads it
    # — materialize it once (localCheckpoint severs the ssjoin lineage so
    # the 3 method branches + the count don't re-run the prefix join)
    truth = _canon_pairs(q_set_similarity_join(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    out = None
    for name, fn in (
        ("minhash", q_minhash_pairs),
        ("simhash", q_simhash_pairs),
        ("ngram_blocked", q_ngram_jaccard_pairs),
    ):
        # one evaluation per method: left-join the truth marker, then
        # count pred rows and hits in the same aggregation
        pred = _canon_pairs(fn(spark, sf_dir))
        marked = pred.join(
            truth.withColumn("_t", F.lit(1)), ["id1", "id2"], "left"
        )
        stats = (
            marked.agg(
                F.count("*").alias("n_pred"),
                F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_hit"),
            )
            .crossJoin(truth.agg(F.count("*").alias("n_truth")))
            .select(
                F.lit(name).alias("method"),
                "n_pred",
                "n_truth",
                "n_hit",
                _r6(
                    F.when(
                        F.col("n_pred") > 0,
                        F.col("n_hit").cast("double") / F.col("n_pred"),
                    )
                ).alias("precision"),
                _r6(
                    F.when(
                        F.col("n_truth") > 0,
                        F.col("n_hit").cast("double") / F.col("n_truth"),
                    )
                ).alias("recall"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def _sql_sketch_recall() -> str:
    canon = (
        "SELECT DISTINCT least(CAST(id1 AS BIGINT), CAST(id2 AS BIGINT))"
        " AS id1, greatest(CAST(id1 AS BIGINT), CAST(id2 AS BIGINT)) AS id2"
        " FROM ({q}) _sub"
    )
    branches = []
    for name, key in (
        ("minhash", "minhash_pairs"),
        ("simhash", "simhash_pairs"),
        ("ngram_blocked", "ngram_jaccard_pairs"),
    ):
        branches.append(
            f"SELECT '{name}' AS method,"
            f" (SELECT count(*) FROM {name}_p) AS n_pred,"
            f" (SELECT count(*) FROM truth_p) AS n_truth,"
            f" (SELECT count(*) FROM {name}_p JOIN truth_p"
            f" USING (id1, id2)) AS n_hit"
        )
    # composed lazily in queries-module init: ORACLES for the three
    # methods are defined later in this file, so the constant is built
    # by _late_sql_sketch_recall() below
    return canon, branches


def _late_sql_sketch_recall() -> str:
    canon, branches = _sql_sketch_recall()
    ctes = [
        f"truth_p AS ({canon.format(q=SQL_SET_SIMILARITY_JOIN)})",
        f"minhash_p AS ({canon.format(q=ORACLES['minhash_pairs'])})",
        f"simhash_p AS ({canon.format(q=ORACLES['simhash_pairs'])})",
        f"ngram_blocked_p AS ({canon.format(q=SQL_NGRAM_JACCARD_PAIRS)})",
        "stats AS (\n  " + "\n  UNION ALL\n  ".join(branches) + "\n)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT method, n_pred, n_truth, n_hit,
       round(CASE WHEN n_pred > 0
                  THEN CAST(n_hit AS DOUBLE) / n_pred END, 6) AS precision,
       round(CASE WHEN n_truth > 0
                  THEN CAST(n_hit AS DOUBLE) / n_truth END, 6) AS recall
FROM stats
"""
    )


def q_fs_match_weights(spark, sf_dir):
    """Fellegi–Sunter log-likelihood-ratio weights (operators/fellegi.py)
    over the block candidates: supervised m/u Laplace-estimated from the
    exact-Jaccard labels in one map-side-combinable aggregation, weights
    broadcast back as a 1-row cross join so scoring is a pure
    projection. Integer micro-nat quantization per field makes the
    summed weight bit-identical in the DuckDB twin."""
    from .operators.fellegi import fellegi_sunter_scores

    return fellegi_sunter_scores(
        _fs_gamma_pairs(spark, sf_dir), "is_match", _FS_GAMMAS
    )


def q_em_match_probability(spark, sf_dir):
    """UNSUPERVISED Fellegi–Sunter via EM (operators/em.py, Winkler
    1988 / the Splink estimation engine) on the same comparison vectors:
    no labels read — the latent match/non-match mixture is fitted on the
    ≤2⁴-row γ-pattern histogram (one distributed groupBy; EM itself
    never touches the pair relation) and the per-pattern posterior is
    broadcast-joined back. Every EM iteration quantizes responsibility
    mass to integer micro-units, so FIVE iterations of an iterative
    float algorithm still hash-match the DuckDB twin's unrolled-CTE
    replay. ``is_match`` rides along as a diagnostic: pytest asserts the
    unsupervised posterior actually separates the labeled classes."""
    from .operators.em import em_posterior_scores

    return em_posterior_scores(_fs_gamma_pairs(spark, sf_dir), _FS_GAMMAS)


def q_match_calibration(spark, sf_dir):
    """Reliability diagram of the unsupervised EM match posterior — the
    model-evaluation step a production linkage runs before trusting a
    threshold: pairs binned by predicted probability decile; per bin the
    OBSERVED match rate (vs the exact ssjoin truth riding the pair
    relation) sits next to the MEAN predicted probability — a
    calibrated model tracks the diagonal, and the gap per bin is
    exactly where a chosen threshold will lie about its precision. All
    integer: mean prediction is an int64 ``sum div n``; observed rate
    is ``matches·1e6 div n``. One map-side-combinable groupBy over the
    scored pair relation (the EM fit itself never touches pairs — see
    em_match_probability)."""
    from .operators.em import em_posterior_scores

    scored = em_posterior_scores(_fs_gamma_pairs(spark, sf_dir), _FS_GAMMAS)
    b = (
        F.least(F.floor(F.col("posterior_micros") / 100000), F.lit(9))
        .cast("long")
        .alias("bin")
    )
    return (
        scored.groupBy(b)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("is_match").cast("long").alias("n_matches"),
            F.sum("posterior_micros").cast("long").alias("_sp"),
        )
        .select(
            "bin",
            "n_pairs",
            "n_matches",
            F.expr("_sp div n_pairs").alias("mean_pred_micros"),
            F.expr("(n_matches * 1000000) div n_pairs").alias(
                "obs_rate_micros"
            ),
        )
    )


def _sql_match_calibration() -> str:
    """Composes the EM oracle verbatim (the sketch_recall composition
    pattern: the calibration can never drift from what it calibrates)."""
    return f"""
SELECT bin, n_pairs, n_matches,
       sp // n_pairs AS mean_pred_micros,
       (n_matches * 1000000) // n_pairs AS obs_rate_micros
FROM (
  SELECT least(posterior_micros // 100000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(is_match) AS BIGINT) AS n_matches,
         CAST(sum(posterior_micros) AS BIGINT) AS sp
  FROM ({{em}}) s
  GROUP BY 1
)
"""


# block candidates (cand) + exact shingle-Jaccard truth (matches) —
# shared by the probabilistic-linkage oracles and blocking_quality
def _cand_truth_cte() -> str:
    """Block candidates (cand) + exact-ssjoin truth (matches). The truth
    is COMPOSED from set_similarity_join_sql — one source for the
    shingle/threshold semantics, so the linkage/blocking oracles can
    never drift from the `set_similarity_join` query they claim to share
    (the same composition pattern as _late_sql_sketch_recall)."""
    from .operators.ssjoin import set_similarity_join_sql

    ssj = set_similarity_join_sql("documents", threshold=0.5, n=3)
    return (
        r"""b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), matches AS (
  SELECT id1, id2 FROM ("""
        + ssj
        + """) _ssj
)"""
    )


_CAND_TRUTH_CTE = _cand_truth_cte()


_FS_PAIRS_CTE = _CAND_TRUTH_CTE + r""", attrs AS (
  SELECT doc_id, lang, source, n_chars,
         regexp_split_to_array(trim(text), '\s+')[1] AS tok1
  FROM documents
), fs_pairs AS (
  SELECT c.id1, c.id2,
         CASE WHEN m.id1 IS NOT NULL THEN 1 ELSE 0 END AS is_match,
         CASE WHEN a1.lang = a2.lang THEN 1 ELSE 0 END AS g_lang,
         CASE WHEN a1.source = a2.source THEN 1 ELSE 0 END AS g_source,
         CASE WHEN a1.tok1 = a2.tok1 THEN 1 ELSE 0 END AS g_tok1,
         CASE WHEN greatest(a1.n_chars, a2.n_chars) = 0 THEN 1
              WHEN CAST(least(a1.n_chars, a2.n_chars) AS DOUBLE)
                   / greatest(a1.n_chars, a2.n_chars) >= 0.9 THEN 1
              ELSE 0 END AS g_len
  FROM cand c
  JOIN attrs a1 ON c.id1 = a1.doc_id
  JOIN attrs a2 ON c.id2 = a2.doc_id
  LEFT JOIN matches m ON c.id1 = m.id1 AND c.id2 = m.id2
)"""


def _sql_fs_match_weights() -> str:
    from .operators.fellegi import fellegi_sunter_sql

    return fellegi_sunter_sql(_FS_PAIRS_CTE, "is_match", _FS_GAMMAS)


def _sql_em_match_probability() -> str:
    from .operators.em import em_sql

    return em_sql(
        _FS_PAIRS_CTE.replace("fs_pairs AS (", "em_pairs AS ("), _FS_GAMMAS
    )


def q_fs_decision_rules(spark, sf_dir):
    """Fellegi–Sunter Theorem-II decision bands (operators/em.py): the
    pattern-level accept / clerical-review / reject table at target
    error rates μ=0.01 (false-match) and λ=0.05 (false-non-match),
    parameters fitted unsupervised by the quantized EM. Likelihood
    ratios, cumulative error masses and band boundaries are all exact
    integer arithmetic over a pinned total order, so the DuckDB twin
    re-derives every decision through the same unrolled EM chain plus
    two ROWS-framed window cumsums."""
    from .operators.em import fs_decision_patterns

    return fs_decision_patterns(_fs_gamma_pairs(spark, sf_dir), _FS_GAMMAS)


def _sql_fs_decision_rules() -> str:
    from .operators.em import fs_decision_sql

    return fs_decision_sql(
        _FS_PAIRS_CTE.replace("fs_pairs AS (", "em_pairs AS ("), _FS_GAMMAS
    )


def q_fs_tf_weights(spark, sf_dir):
    """Term-frequency-adjusted Fellegi–Sunter weights (the Splink
    ``tf_adjustments`` refinement / Winkler 1989 value-specific
    u-probabilities, operators/fellegi.tf_adjusted_scores): agreement on
    the first-token field is re-priced by the SPECIFIC shared value's
    corpus frequency — ln(m) − ln(tf(v)) instead of the generic
    ln(m/u) — so a rare shared token is stronger match evidence than a
    stopword-grade one. The tf relation is vocabulary-bounded and joins
    back broadcast (the pair relation never re-shuffles; a hot value is
    a broadcast probe, not a skewed exchange); integer micro-nat
    quantization keeps both scores bit-identical in the DuckDB twin."""
    from .operators.fellegi import tf_adjusted_scores

    d = _docs(spark, sf_dir)
    values = d.select(
        F.element_at(F.split(F.trim("text"), r"\s+"), 1).alias("v")
    )
    return tf_adjusted_scores(
        _fs_gamma_pairs(spark, sf_dir, with_value=True),
        values,
        "is_match",
        _FS_GAMMAS,
        "g_tok1",
        "v_tok1",
    )


def q_fs_waterfall(spark, sf_dir):
    """Per-field match-weight WATERFALL (Splink's waterfall-chart
    relation, operators/fellegi.fs_waterfall): one row per (candidate
    pair, comparison field) with that field's log-likelihood-ratio
    contribution and the running cumulative — the explain-this-match
    artifact for clerical review. The k-step expansion happens inside
    the row (literal struct array + prefix-sum BEFORE the explode, all
    JVM built-ins — zero extra shuffles, no per-pair window); the final
    step's cum_micros equals fs_match_weights' fs_micros by
    construction (pinned in test_fellegi)."""
    from .operators.fellegi import fs_waterfall

    return fs_waterfall(_fs_gamma_pairs(spark, sf_dir), "is_match", _FS_GAMMAS)


_FS_TF_PAIRS_CTE = _FS_PAIRS_CTE.replace(
    "ELSE 0 END AS g_len\n  FROM cand c",
    "ELSE 0 END AS g_len,\n"
    "         CASE WHEN a1.tok1 = a2.tok1 THEN a1.tok1 END AS v_tok1\n"
    "  FROM cand c",
)
assert "v_tok1" in _FS_TF_PAIRS_CTE  # replace anchor must not drift


def _sql_fs_tf_weights() -> str:
    from .operators.fellegi import tf_adjusted_sql

    return tf_adjusted_sql(
        _FS_TF_PAIRS_CTE,
        r"SELECT regexp_split_to_array(trim(text), '\s+')[1] AS v"
        " FROM documents",
        "is_match",
        _FS_GAMMAS,
        "g_tok1",
        "v_tok1",
    )


def _sql_fs_waterfall() -> str:
    from .operators.fellegi import fs_waterfall_sql

    return fs_waterfall_sql(_FS_PAIRS_CTE, "is_match", _FS_GAMMAS)


SQL_FS_MATCH_WEIGHTS = _sql_fs_match_weights()
SQL_EM_MATCH_PROBABILITY = _sql_em_match_probability()
SQL_FS_DECISION_RULES = _sql_fs_decision_rules()
SQL_FS_TF_WEIGHTS = _sql_fs_tf_weights()
SQL_FS_WATERFALL = _sql_fs_waterfall()


_Z_BOX = (300, 500, 100, 300)  # n_chars in [300,500], doc_id in [100,300]
_Z_SHIFT = 14


def q_zorder_pruning(spark, sf_dir):
    """Z-order layout + file-skipping stats (operators/zorder.py, the
    Delta/Iceberg OPTIMIZE ZORDER lever): Morton-interleave (n_chars,
    doc_id), tile the curve by the z-value's high bits, and emit each
    tile's zone map plus the exact skip verdict a min/max-pruning scan
    would make for a 2-d box predicate. Pure int64 bit arithmetic —
    every zone map and every skip bit hash-matches the DuckDB twin."""
    from .operators.zorder import zorder_tile_stats

    return zorder_tile_stats(
        _docs(spark, sf_dir), "n_chars", "doc_id", _Z_SHIFT, _Z_BOX
    )


def _sql_zorder_pruning() -> str:
    from .operators.zorder import zorder_tile_stats_sql

    return zorder_tile_stats_sql(
        "documents", "n_chars", "doc_id", _Z_SHIFT, _Z_BOX
    )


SQL_ZORDER_PRUNING = _sql_zorder_pruning()


def q_meta_blocking(spark, sf_dir):
    """Meta-blocking (operators/metablocking.py, Papadakis TKDE 2014):
    three deliberately weak predicates (lang|first-token,
    source|length-bucket, last-token) over-block the corpus; CBS weights
    every candidate edge by its distinct shared blocks and WEP keeps
    only edges strictly above the mean weight — redundant comparisons
    are counted away before anything is scored."""
    from .operators.metablocking import cbs_weighted_pairs, weighted_edge_pruning

    d = _docs(spark, sf_dir)
    arr = F.split(F.trim("text"), r"\s+")
    base = d.select(
        "doc_id", "lang", "source", "n_chars", arr.alias("a")
    )
    p1 = base.select(
        "doc_id",
        F.concat_ws(
            "|", F.lit("p1"), F.col("lang"), F.element_at("a", 1)
        ).alias("bk"),
    )
    p2 = base.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.lit("p2"),
            F.col("source"),
            (F.col("n_chars") / 100).cast("long").cast("string"),
        ).alias("bk"),
    )
    p3 = base.select(
        "doc_id",
        F.concat_ws("|", F.lit("p3"), F.element_at("a", -1)).alias("bk"),
    )
    blocks = p1.unionByName(p2).unionByName(p3)
    return weighted_edge_pruning(
        cbs_weighted_pairs(blocks, id_col="doc_id", max_block=100)
    )


SQL_META_BLOCKING = r"""
WITH arr AS (
  SELECT doc_id, lang, source, n_chars,
         regexp_split_to_array(trim(text), '\s+') AS a
  FROM documents
), blocks AS (
  SELECT doc_id, concat_ws('|', 'p1', lang, a[1]) AS bk FROM arr
  UNION ALL
  SELECT doc_id,
         concat_ws('|', 'p2', source, CAST(n_chars // 100 AS VARCHAR))
  FROM arr
  UNION ALL
  SELECT doc_id, concat_ws('|', 'p3', a[-1]) FROM arr
), kept AS (
  SELECT * FROM blocks WHERE bk IN (
    SELECT bk FROM blocks GROUP BY bk HAVING count(*) <= 100)
), w AS (
  SELECT l.doc_id AS id1, r.doc_id AS id2,
         CAST(count(DISTINCT l.bk) AS BIGINT) AS cbs
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), s AS (
  SELECT CAST(sum(cbs) AS BIGINT) AS sw, count(*) AS nw FROM w
)
SELECT id1, id2, cbs FROM w CROSS JOIN s
WHERE CAST(cbs AS DOUBLE) > CAST(sw AS DOUBLE) / nw
"""


_SNM_WINDOW = 5


def q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking (operators/snm.py, Hernández &
    Stolfo 1995): global (lang | first-token | zero-padded length) sort
    order via the two-phase rank (no single-partition window — the
    row_number() OVER () trap), then each record pairs with its w−1
    successors through the binned range join. Candidate volume is
    n·(w−1) whatever the key skew — the property hash blocking lacks."""
    from .operators.snm import sorted_neighborhood_pairs

    d = _docs(spark, sf_dir)
    key = F.concat_ws(
        "|",
        F.col("lang"),
        F.coalesce(
            F.element_at(F.split(F.trim("text"), r"\s+"), 1), F.lit("")
        ),
        F.lpad(F.col("n_chars").cast("string"), 6, "0"),
    )
    return sorted_neighborhood_pairs(d, "doc_id", key, window=_SNM_WINDOW)


SQL_SNM_PAIRS = rf"""
WITH keyed AS (
  SELECT doc_id,
         concat_ws('|', lang,
                   coalesce(regexp_split_to_array(trim(text), '\s+')[1], ''),
                   lpad(CAST(n_chars AS VARCHAR), 6, '0')) AS k
  FROM documents
), ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS rnk
  FROM keyed
)
SELECT l.doc_id AS id1, r.doc_id AS id2, r.rnk - l.rnk AS gap
FROM ranked l
JOIN ranked r ON r.rnk > l.rnk AND r.rnk < l.rnk + {_SNM_WINDOW}
"""


def q_blocking_quality(spark, sf_dir):
    """Blocking-scheme quality card (operators/evalmetrics.py, Christen
    2012's indexing metrics): reduction ratio and pairs completeness of
    the (lang, first-token) blocking scheme, measured against the EXACT
    set-similarity truth — the instrument that says whether a blocking
    key is safe to ship before anyone pays for a full run. It is
    measuring the reference-parity J1 key, and the verdict is honest:
    ~0.99 reduction but only ~0.25 completeness — which is precisely why
    the flagship pipeline blocks on MinHash bands instead (its recall is
    pinned by the F1=1.0 e2e tests and the `er_clusters` oracle)."""
    from .operators.evalmetrics import blocking_quality
    from .operators.ssjoin import set_similarity_join

    d = _docs(spark, sf_dir)
    cand = q_block_candidates(spark, sf_dir)
    truth = set_similarity_join(d, threshold=0.5, n=3).select("id1", "id2")
    return blocking_quality(d, cand, truth)


SQL_BLOCKING_QUALITY = f"""
WITH {_CAND_TRUTH_CTE},
n AS (SELECT count(*) AS n_records FROM documents),
c AS (SELECT count(*) AS n_candidates FROM cand),
t AS (SELECT count(*) AS n_true FROM matches),
cov AS (
  SELECT count(*) AS n_covered
  FROM matches m JOIN cand c2 ON m.id1 = c2.id1 AND m.id2 = c2.id2
)
SELECT n_records,
       (CAST(n_records AS BIGINT) * (n_records - 1)) // 2 AS n_possible,
       n_candidates, n_true, n_covered,
       round(CASE WHEN n_records > 1 THEN 1 - CAST(n_candidates AS DOUBLE)
                 / ((CAST(n_records AS BIGINT) * (n_records - 1)) // 2)
             END, 6)
         AS reduction_ratio,
       round(CASE WHEN n_true > 0
                  THEN CAST(n_covered AS DOUBLE) / n_true END, 6)
         AS pairs_completeness
FROM n, c, t, cov
"""


_WINDOW_US = 300_000_000  # 5-minute incident windows


def q_range_join_counts(spark, sf_dir):
    """Point-in-interval range join (operators/rangejoin.py): every
    'error' event opens a half-open 5-minute incident window; count the
    events and sum integer-cents value inside each. The binned rewrite
    joins on ONE int64 equi-key (bin = window width, so each window
    explodes to ≤ 2 bins and every true pair meets exactly once — no
    dedup pass); the naive BETWEEN join is a BroadcastNestedLoopJoin.
    The DuckDB twin IS that naive join, so the hash match proves the
    rewrite's completeness."""
    from .operators.rangejoin import point_in_interval_join

    ev = _tbl(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.where(F.col("ts").isNotNull()).select(
        us.alias("p_us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ivs = ev.where(
        (F.col("event_type") == "error") & F.col("ts").isNotNull()
    ).select(
        F.col("event_id").alias("window_id"),
        us.alias("start_us"),
        (us + F.lit(_WINDOW_US)).alias("end_us"),
    )
    return (
        point_in_interval_join(pts, ivs, _WINDOW_US)
        .groupBy("window_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
    )


_CMS_PHI = 0.0015  # heavy hitter = est count >= phi * stream length


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/sketches.py, Cormode &
    Muthukrishnan 2005) over the word-bigram stream: the sketch is a
    bounded D×W counter relation (map-side-combined, broadcast back for
    probing), est >= true always, and the md5 row-hashes make every
    counter — and thus every estimate — re-derivable in SQL. Heavy
    hitter = est >= phi·N (the textbook definition), so the threshold
    scales with the corpus."""
    from .operators.sketches import cms_point_estimates, cms_sketch

    d = _docs(spark, sf_dir)
    txt = F.col("text")
    arr = F.split(F.trim(txt), r"\s+")
    bg = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat_ws(" ", F.slice(arr, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = d.where(txt.isNotNull() & (F.trim(txt) != "")).select(
        F.explode(bg).alias("token")
    )
    sk = cms_sketch(toks, "token")
    n = toks.agg(F.count("*").alias("n_stream"))
    est = cms_point_estimates(sk, toks.distinct(), "token")
    return (
        est.crossJoin(F.broadcast(n))
        .where(F.col("est_cnt") >= F.lit(_CMS_PHI) * F.col("n_stream"))
        .select("token", "est_cnt")
    )


def _sql_cms_heavy_hitters() -> str:
    from .operators.sketches import cms_buckets_union_sql

    return f"""
WITH arr AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS a
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), toks AS (
  SELECT unnest(list_transform(range(1, greatest(len(a) - 1, 0) + 1),
                i -> array_to_string(list_slice(a, i, i + 1), ' '))) AS token
  FROM arr
), tb AS (
  {cms_buckets_union_sql('toks', 'token')}
), sketch AS (
  SELECT row, bucket, count(*) AS cnt FROM tb GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT token FROM toks
), pb AS (
  {cms_buckets_union_sql('probes', 'token')}
), est AS (
  SELECT pb.token, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_cnt
  FROM pb LEFT JOIN sketch s USING (row, bucket)
  GROUP BY pb.token
)
SELECT token, est_cnt FROM est
WHERE est_cnt >= {_CMS_PHI!r} * (SELECT count(*) FROM toks)
"""


SQL_CMS_HEAVY_HITTERS = _sql_cms_heavy_hitters()


def q_cms_join_size(spark, sf_dir):
    """Join-cardinality estimation from sketches (operators/sketches.py,
    Cormode & Muthukrishnan §4.2): how many (click, purchase) same-user
    event pairs would a user_id join produce? Estimated as the min-row
    inner product of two count-min sketches — two bounded sketch scans
    instead of the join — next to the true size as the accuracy
    baseline. Both numbers are exact int64s; the DuckDB twin re-derives
    the sketches and the estimate bit-for-bit."""
    from .operators.sketches import cms_inner_product, cms_sketch

    ev = _tbl(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k")
    )
    est = cms_inner_product(cms_sketch(clicks, "k"), cms_sketch(purch, "k"))
    true = (
        clicks.join(purch, "k")
        .agg(F.count("*").alias("true_join_rows"))
    )
    return est.crossJoin(true).select(
        F.col("est").alias("est_join_rows"), "true_join_rows"
    )


def _sql_cms_join_size() -> str:
    from .operators.sketches import cms_buckets_union_sql

    return f"""
WITH clicks AS (
  SELECT user_id AS k FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id AS k FROM events WHERE event_type = 'purchase'
), ca AS (
  SELECT row, bucket, count(*) AS cnt FROM (
  {cms_buckets_union_sql('clicks', 'k')}
  ) GROUP BY 1, 2
), cb AS (
  SELECT row, bucket, count(*) AS cnt FROM (
  {cms_buckets_union_sql('purch', 'k')}
  ) GROUP BY 1, 2
), ip AS (
  SELECT ca.row, sum(ca.cnt * cb.cnt) AS _ip
  FROM ca JOIN cb USING (row, bucket) GROUP BY ca.row
), est AS (
  SELECT CAST(min(_ip) AS BIGINT) AS est_join_rows FROM ip
), t AS (
  SELECT count(*) AS true_join_rows FROM clicks JOIN purch USING (k)
)
SELECT est_join_rows, true_join_rows FROM est CROSS JOIN t
"""


SQL_CMS_JOIN_SIZE = _sql_cms_join_size()


def q_bloom_semi_join(spark, sf_dir):
    """Bloom-filter semi-join prefilter accounting (operators/
    sketches.py, Bloom 1970): build the md5 Bloom filter over URGENT
    order keys, probe every distinct lineitem orderkey, and tally
    lineitem rows by (maybe, actual). The (1,0) cell is the false
    positives the prefilter would pass to the exact join and the (0,1)
    cell must be EMPTY (no false negatives — asserted in pytest); both
    are re-derived bit-for-bit in the DuckDB twin because the bit
    positions are md5 windows, not a seeded hash. At 100 TB the bit
    relation broadcasts (≤ 2^16 rows) and the fact scan drops
    non-joining rows BEFORE its join exchange."""
    from .operators.sketches import bloom_build, bloom_probe

    o = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem")
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bloom = bloom_build(urgent, "k")
    keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    flagged = bloom_probe(keys, bloom, "k")
    kf = flagged.join(urgent.withColumn("_act", F.lit(1)), "k", "left").select(
        "k", "maybe", F.coalesce("_act", F.lit(0)).alias("actual")
    )
    return (
        li.select(F.col("l_orderkey").alias("k"))
        .join(kf, "k")
        .groupBy("maybe", "actual")
        .agg(F.count("*").alias("n_rows"))
    )


def _sql_bloom_semi_join() -> str:
    from .operators.sketches import BLOOM_K, bloom_positions_union_sql

    return f"""
WITH urgent AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
), bits AS (
  SELECT DISTINCT pos FROM (
  {bloom_positions_union_sql('urgent', 'k')}
  )
), keys AS (
  SELECT DISTINCT l_orderkey AS k FROM lineitem
), kp AS (
  {bloom_positions_union_sql('keys', 'k')}
), flags AS (
  SELECT kp.k,
         CASE WHEN count(bits.pos) = {BLOOM_K} THEN 1 ELSE 0 END AS maybe
  FROM kp LEFT JOIN bits ON kp.pos = bits.pos
  GROUP BY kp.k
), kf AS (
  SELECT f.k, f.maybe,
         CASE WHEN u.k IS NOT NULL THEN 1 ELSE 0 END AS actual
  FROM flags f LEFT JOIN urgent u ON f.k = u.k
)
SELECT maybe, actual, count(*) AS n_rows
FROM lineitem l JOIN kf ON l.l_orderkey = kf.k
GROUP BY 1, 2
"""


SQL_BLOOM_SEMI_JOIN = _sql_bloom_semi_join()


SQL_RANGE_JOIN_COUNTS = f"""
WITH pts AS (
  SELECT epoch_us(ts) AS p_us, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
), ivs AS (
  SELECT event_id AS window_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + {_WINDOW_US} AS end_us
  FROM events WHERE event_type = 'error' AND ts IS NOT NULL
)
SELECT window_id, count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM ivs JOIN pts ON p_us >= start_us AND p_us < end_us
GROUP BY window_id
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric CONTAINMENT dedup (Broder 1997's second resemblance
    measure): |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.5 over the
    block candidates — catches a document substantially CONTAINED in a
    longer one (quotation, boilerplate wrapping, page-plus-navigation),
    which symmetric Jaccard misses when the sizes differ (a doc fully
    inside one 4× its size has containment 1.0 but Jaccard ≤ 0.25).
    Emits (id_sub, id_super, containment) for each qualifying direction;
    same built-in gram machinery as ngram_jaccard_pairs."""
    d = _docs(spark, sf_dir)
    pairs = q_block_candidates(spark, sf_dir)
    g = d.select("doc_id", B.ngram_array("text", n=5).alias("g"))
    l = g.select(F.col("doc_id").alias("id1"), F.col("g").alias("g1"))
    r = g.select(F.col("doc_id").alias("id2"), F.col("g").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    wide = pairs.join(l, "id1").join(r, "id2").select(
        "id1", "id2", inter.alias("i"),
        F.size("g1").alias("n1"), F.size("g2").alias("n2"),
    )
    # both directions emitted from ONE pass via a struct-array explode — a
    # fwd/rev union would re-execute the whole blocked-candidates +
    # gram-intersection pipeline once per branch (verified: 12 scans /
    # 10 joins in the union plan vs one pipeline here)
    dirs = F.array(
        F.struct(
            F.col("id1").alias("id_sub"),
            F.col("id2").alias("id_super"),
            (F.col("i").cast("double") / F.col("n1")).alias("c"),
        ),
        F.struct(
            F.col("id2").alias("id_sub"),
            F.col("id1").alias("id_super"),
            (F.col("i").cast("double") / F.col("n2")).alias("c"),
        ),
    )
    return (
        wide.select(F.explode(dirs).alias("d"))
        .select("d.id_sub", "d.id_super", F.col("d.c").alias("c"))
        .where(F.col("c") >= 0.5)
        .select("id_sub", "id_super", _r6(F.col("c")).alias("containment"))
    )


SQL_CONTAINMENT_PAIRS = r"""
WITH b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), wide AS (
  SELECT p.id1, p.id2,
         len(list_intersect(ga.gr, gb.gr)) AS i,
         len(ga.gr) AS n1, len(gb.gr) AS n2
  FROM pairs p
  JOIN g ga ON ga.doc_id = p.id1
  JOIN g gb ON gb.doc_id = p.id2
)
SELECT id1 AS id_sub, id2 AS id_super,
       round(CAST(i AS DOUBLE) / n1, 6) AS containment
FROM wide WHERE CAST(i AS DOUBLE) / n1 >= 0.5
UNION ALL
SELECT id2 AS id_sub, id1 AS id_super,
       round(CAST(i AS DOUBLE) / n2, 6) AS containment
FROM wide WHERE CAST(i AS DOUBLE) / n2 >= 0.5
"""


def q_winnow_span_pairs(spark, sf_dir):
    """Substring-level shared-span dedup (winnowing, SIGMOD 2003; the Lee
    et al. 2021 substring-dedup family): docs sharing >= 5 winnowed
    fingerprints after dropping corpus-boilerplate fingerprints (doc-freq
    > 50). All built-in; DuckDB twin re-derives the md5-u31 gram hashes
    and the sliding-window minima exactly."""
    return D.winnow_span_pairs(_docs(spark, sf_dir))


def _winnow_sql(gram=8, window=16, max_doc_freq=50, min_shared=5) -> str:
    return f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(text) - {gram - 1}, 1) + 1),
                        i -> {_hex_u31_sql(f"md5(substr(text, i, {gram}))")})
           AS hs
  FROM documents
), fp AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(hs) - {window} + 1, 1) + 1),
                   i -> list_min(list_slice(hs, i, i + {window} - 1))))) AS f
  FROM h
), kept AS (
  SELECT f FROM fp GROUP BY f HAVING count(*) <= {max_doc_freq}
), fk AS (SELECT fp.doc_id, fp.f FROM fp JOIN kept USING (f))
SELECT id1, id2, n_shared FROM (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
  FROM fk a JOIN fk b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
) WHERE n_shared >= {min_shared}
"""


def _record_link_scored(spark, sf_dir):
    """The shared RecordLink candidate+score chain (even doc_ids = source
    A, odd = source B; block on (lang, first-token) capped at 100;
    cross-source block equi-join; exact 5-gram Jaccard ≥ 0.2) — consumed
    by both the one-round mutual matcher (record_link_mutual) and the
    iterated greedy assignment (link_assignment)."""
    from .operators.record_link import cross_candidate_pairs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "|", F.col("lang"), F.element_at(F.split(F.trim("text"), r"\s+"), 1)
        ).alias("bk"),
    )
    blocks = d.select(F.col("doc_id").alias("record_id"), "bk")
    ba = blocks.where(F.col("record_id") % 2 == 0)
    bb = blocks.where(F.col("record_id") % 2 == 1)
    cands = cross_candidate_pairs(ba, bb, max_block=100)
    g = _docs(spark, sf_dir).select(
        "doc_id", B.ngram_array("text", n=5).alias("g")
    )
    ga = g.select(F.col("doc_id").alias("id_a"), F.col("g").alias("g1"))
    gb = g.select(F.col("doc_id").alias("id_b"), F.col("g").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    jac = inter.cast("double") / (F.size("g1") + F.size("g2") - inter)
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jac.alias("score"))
        .where(F.col("score") >= 0.2)
    )


def q_record_link_mutual(spark, sf_dir):
    """RecordLink mode (A ↔ B linkage across two tables): even doc_ids are
    source A, odd are source B; both sides block on (lang, first-token)
    with the standard cap, candidates are the cross-source block equi-join,
    pairs score by exact 5-gram Jaccard ≥ 0.2, and the mutual-argmax
    window keeps one-to-one links (operators.record_link). Full DuckDB
    twin including both ranking windows."""
    from .operators.record_link import mutual_best_links

    scored = _record_link_scored(spark, sf_dir)
    return mutual_best_links(scored).select(
        "id_a", "id_b", _r6(F.col("score")).alias("score")
    )


def q_link_assignment(spark, sf_dir):
    """Greedy 1:1 assignment over the SAME RecordLink scored pairs as
    record_link_mutual, but ITERATED (4 locally-dominant waves,
    operators/record_link.greedy_one_to_one): a vertex freed when its
    best partner matched elsewhere is re-offered in the next wave, so
    the matching is the sequential greedy result — strictly larger
    cardinality than the one-round mutual argmax whenever best-partner
    conflicts exist. The SQL twin unrolls every wave (row_number
    twin-ranks + NOT IN vertex removal) including each pair's wave
    number."""
    from .operators.record_link import greedy_one_to_one

    scored = _record_link_scored(spark, sf_dir)
    return greedy_one_to_one(scored, rounds=4).select(
        "id_a", "id_b", _r6(F.col("score")).alias("score"), "match_round"
    ).orderBy("id_a")


SQL_RECORD_LINK_MUTUAL = r"""
WITH b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), sa AS (SELECT * FROM b WHERE doc_id % 2 = 0),
   sb AS (SELECT * FROM b WHERE doc_id % 2 = 1),
   ka AS (SELECT bk FROM sa GROUP BY bk HAVING count(*) <= 100),
   kb AS (SELECT bk FROM sb GROUP BY bk HAVING count(*) <= 100),
pairs AS (
  SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
  FROM sa JOIN ka ON sa.bk = ka.bk
          JOIN sb ON sb.bk = sa.bk
          JOIN kb ON kb.bk = sb.bk
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
           / (len(ga.gr) + len(gb.gr) - len(list_intersect(ga.gr, gb.gr)))
           AS score
  FROM pairs p
  JOIN g ga ON ga.doc_id = p.id_a
  JOIN g gb ON gb.doc_id = p.id_b
)
SELECT id_a, id_b, round(score, 6) AS score FROM (
  SELECT id_a, id_b, score,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY score DESC, id_b ASC) AS ra,
         row_number() OVER (PARTITION BY id_b
                            ORDER BY score DESC, id_a ASC) AS rb
  FROM scored WHERE score >= 0.2
) WHERE ra = 1 AND rb = 1
"""


def _link_assignment_sql(rounds: int = 4) -> str:
    """Unrolled locally-dominant matching waves as MATERIALIZED CTEs:
    per wave the two row_number argmax ranks (score DESC, partner ASC —
    the same total order the DataFrame operator's min(struct(−score,
    partner)) realizes), the mutual join, and NOT-IN vertex removal."""
    # the shared RecordLink scored chain (see SQL_RECORD_LINK_MUTUAL)
    scored_chain = SQL_RECORD_LINK_MUTUAL.split("SELECT id_a, id_b, round")[0].strip()
    assert scored_chain.startswith("WITH") and scored_chain.endswith(")")
    its = []
    prev = "e0"
    for i in range(1, rounds + 1):
        its.append(
            f"""ba{i} AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY score DESC, id_b ASC) AS rn
    FROM {prev}) WHERE rn = 1
), bb{i} AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           row_number() OVER (PARTITION BY id_b
                              ORDER BY score DESC, id_a ASC) AS rn
    FROM {prev}) WHERE rn = 1
), m{i} AS MATERIALIZED (
  SELECT e.id_a, e.id_b, e.score, {i} AS match_round
  FROM {prev} e
  JOIN ba{i} a ON a.id_a = e.id_a AND a.id_b = e.id_b
  JOIN bb{i} b ON b.id_a = e.id_a AND b.id_b = e.id_b
), e{i} AS MATERIALIZED (
  SELECT e.* FROM {prev} e
  WHERE e.id_a NOT IN (SELECT id_a FROM m{i})
    AND e.id_b NOT IN (SELECT id_b FROM m{i})
)"""
        )
        prev = f"e{i}"
    body = ",\n".join(its)
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM m{i}" for i in range(1, rounds + 1)
    )
    return f"""
{scored_chain},
e0 AS MATERIALIZED (
  SELECT id_a, id_b, score FROM scored WHERE score >= 0.2
),
{body}
SELECT id_a, id_b, round(score, 6) AS score, match_round
FROM ({union})
ORDER BY id_a
"""


SQL_LINK_ASSIGNMENT = _link_assignment_sql()


def q_cosine_pairs_exact(spark, sf_dir):
    """Exact all-pairs embedding cosine >= 0.35 — the correctness baseline
    (and oracle twin) for the random-hyperplane LSH variant
    (q_embedding_lsh_pairs). O(n^2) by construction: the scale path is the
    LSH query; this one exists so near-dup recall is measurable."""
    e = (
        _emb(spark, sf_dir)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn(
            "nrm",
            F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)),
        )
    )
    a = e.select(
        F.col("vec_id").alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1")
    )
    b = e.select(
        F.col("vec_id").alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2")
    )
    dot = F.aggregate(
        F.zip_with("v1", "v2", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
        .select("id1", "id2", _r6(dot / (F.col("n1") * F.col("n2"))).alias("cosine"))
        .where(F.col("cosine") >= 0.35)
    )


SQL_COSINE_PAIRS_EXACT = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) AS nrm
  FROM embeddings
)
SELECT id1, id2, cosine FROM (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_sum(list_transform(list_zip(a.e, b.e), z -> z[1]*z[2]))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.35
"""


def q_empty_row_filter(spark, sf_dir):
    """P7: drop rows whose text is empty/whitespace after trim."""
    d = _docs(spark, sf_dir)
    return d.where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).select("doc_id")


SQL_EMPTY_ROW_FILTER = """
SELECT doc_id FROM documents WHERE text IS NOT NULL AND trim(text) != ''
"""


def q_training_limit(spark, sf_dir):
    """P4: deterministic bounded training slice (first 400 by id)."""
    return _docs(spark, sf_dir).select("doc_id", "lang").orderBy("doc_id").limit(400)


SQL_TRAINING_LIMIT = """
SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 400
"""


def q_decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C style): training docs
    sharing >= 1 token-8-gram with a held-out benchmark set. The
    benchmark is a deterministic md5-keyed 1/8 slice of the corpus (no
    external data); gram_key='md5' so DuckDB re-derives the exact join
    keys. Production default is xxhash64 + a broadcast bench-gram probe —
    the corpus side never shuffles (operators/decontam.py scale notes)."""
    from .operators import decontam as DC

    d = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    return DC.decontaminate(
        d.where(~is_bench),
        d.where(is_bench),
        "doc_id",
        "text",
        n=8,
        gram_key="md5",
    )


_GRAMS_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
), g AS (
  SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
    THEN list_distinct(list_transform(range(1, len(tk) - 7 + 1),
                                      i -> md5(array_to_string(tk[i:i+7], ' '))))
    ELSE [md5(array_to_string(tk, ' '))] END) AS k
  FROM toks
)"""

SQL_DECONTAMINATE_NGRAMS = (
    _GRAMS_CTE
    + r""",
bench AS (SELECT DISTINCT doc_id AS bench_id, k FROM g
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')),
train AS (SELECT doc_id, k FROM g
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1'))
SELECT t.doc_id,
       count(DISTINCT t.k) AS n_hit_ngrams,
       count(DISTINCT b.bench_id) AS n_bench_docs
FROM train t JOIN bench b USING (k)
GROUP BY t.doc_id
"""
)


def q_dup_ngram_ratio(spark, sf_dir):
    """Per-doc duplicated-8-gram fraction across the corpus (RefinedWeb/
    CCNet boilerplate signal). gram_key='md5' for the SQL twin; one
    shuffle on the gram key, reused by the join-back."""
    from .operators import decontam as DC

    return DC.dup_ngram_ratio(
        _docs(spark, sf_dir), "doc_id", "text", n=8, gram_key="md5"
    )


SQL_DUP_NGRAM_RATIO = (
    _GRAMS_CTE
    + r""",
dfreq AS (SELECT k, count(*) AS df FROM g GROUP BY k)
SELECT g.doc_id,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ngrams,
       round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_ratio
FROM g JOIN dfreq USING (k)
GROUP BY g.doc_id
"""
)


def q_trigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train a
    char-trigram add-one model on a deterministic md5-keyed 1/4 reference
    slice of the corpus (no external data, same idiom as decontaminate's
    bench slice), score EVERY doc by nats/trigram + hard-OOV fraction.
    The model relations are broadcast (bounded by |charset|^3); corpus
    shuffles key by doc id; per-trigram log-probs are quantized to
    integer micro-nats before summing so the aggregate is exact integer
    arithmetic — partition-order-independent and engine-portable
    (operators/lm.py module docstring)."""
    from .operators import lm as LM

    d = _docs(spark, sf_dir)
    is_ref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    lm3, lm2 = LM.train_char_trigram_lm(d.where(is_ref))
    return LM.score_char_trigram_nll(d, lm3, lm2)


def _trigram_lm_sql() -> str:
    from .operators.lm import NORM_SQL, SMOOTH_ADD, SMOOTH_VOCAB

    norm = NORM_SQL.format(col="coalesce(text, '')")
    return f"""
WITH n AS (
  SELECT doc_id, {norm} AS s FROM documents
), tri AS (
  SELECT doc_id, unnest(CASE WHEN len(s) >= 3
      THEN list_transform(range(1, len(s) - 1), i -> substring(s, i, 3))
      ELSE [] END) AS tri
  FROM n
), tc AS (
  SELECT doc_id, tri, count(*) AS cnt FROM tri GROUP BY doc_id, tri
), lm3 AS (
  SELECT tri, count(*) AS c3 FROM tri
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
  GROUP BY tri
), lm2 AS (
  SELECT substring(tri, 1, 2) AS bi, CAST(sum(c3) AS BIGINT) AS c2
  FROM lm3 GROUP BY bi
), sc AS (
  SELECT tc.doc_id, tc.cnt,
         coalesce(lm3.c3, 0) AS c3, coalesce(lm2.c2, 0) AS c2
  FROM tc LEFT JOIN lm3 USING (tri)
          LEFT JOIN lm2 ON lm2.bi = substring(tc.tri, 1, 2)
), agg AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tri,
         CAST(sum(cnt * CAST(round(ln((c3 + {SMOOTH_ADD}) / (c2 + {SMOOTH_VOCAB}))
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_lp,
         CAST(sum(CASE WHEN c3 = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_oov
  FROM sc GROUP BY doc_id
)
SELECT n.doc_id,
       CAST(coalesce(agg.n_tri, 0) AS BIGINT) AS n_tri,
       round(CAST(agg.n_oov AS DOUBLE) / agg.n_tri, 6) AS oov_frac,
       round((-agg.sum_lp) / (1000000.0 * agg.n_tri), 6) AS avg_nll
FROM n LEFT JOIN agg USING (doc_id)
"""


SQL_TRIGRAM_LM_SCORE = _trigram_lm_sql()


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact (C4/BigScience-style regex pass). The corpus
    carries no organic PII (synthetic word-salad), so the query first
    injects a deterministic email/IPv4/phone per row — IDENTICAL string
    math on both engines — then runs the real kernels (functions/pii.py:
    RE2-safe patterns, JVM regexp only). Redacted text is compared by
    sha2 so the value check covers every byte of the rewrite."""
    from .functions import pii as P

    d = _docs(spark, sf_dir)
    injected = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("n_chars") % 256).cast("string"),
        F.lit(".7 call 555-867-5309"),
    )
    s = P.scrub(d.select("doc_id", injected.alias("text")))
    return s.select(
        "doc_id",
        "n_emails",
        "n_ipv4",
        "n_phones",
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"),
    )


SQL_PII_SCRUB = r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact ' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(n_chars % 256 AS VARCHAR)
              || '.7 call 555-867-5309' AS txt
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
  len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
  sha256(regexp_replace(regexp_replace(regexp_replace(txt,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_sha
FROM t
"""


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test fold assignment (90/5/5) by
    lexicographic md5 threshold — leakage-safe, rerun-stable, and
    reproducible bit-for-bit by any engine with md5 (training.hash_split).
    Returns per-doc assignments plus the fold, both value-checked."""
    from .training import hash_split

    return hash_split(
        _docs(spark, sf_dir).select("doc_id"), "doc_id"
    ).select("doc_id", "split")


SQL_HASH_SPLIT = """
SELECT doc_id,
       CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 8)
              < 'e6666666' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 8)
              < 'f3333333' THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


MIX_BUDGET_DEN = 2  # sample budget = floor(corpus / 2)


def q_mixture_sample(spark, sf_dir):
    """Temperature-scaled domain mixture sampling — the training-data
    mixing step (tau = 0.5, the sqrt temperature of multilingual/domain
    rebalancing a la mC4/XLM-R sampling): per-domain (lang) quotas
    proportional to cnt^0.5 re-normalized over a budget of half the
    corpus, so over-represented domains are down-sampled and the tail
    is boosted relative to proportional sampling. Selection inside each
    domain is the engine's deterministic md5 rank (lowest first —
    rerun-stable, engine-portable).

    Exactness contract: tau = 1/2 exactly BECAUSE IEEE-754 requires
    sqrt to be correctly rounded (a transcendental pow(x, 0.7) is not,
    and could flip a floor() at a quota boundary between engines); the
    weight total is a FOLD OVER THE lang-SORTED weight array — not a
    SUM aggregate — so float addition order is pinned in both engines;
    quota = floor(budget * w / w_total) is then two exactly-rounded ops
    on identical inputs. Physical points: the quota relation is
    domain-cardinality-sized and broadcasts; the only corpus-scale work
    is one groupBy(lang) count and one per-domain window rank
    (partition-by-lang shuffle — the same shape as stratified_sample;
    a skewed mega-domain bounds at its partition, acceptable because
    ranks are only needed below the quota cutoff at 100 TB one would
    pre-filter by an md5 threshold estimate first)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("lang"), F.sqrt("cnt").alias("w"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("w_total"),
        F.sum("cnt").alias("n_total"),
    )
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(
            F.floor(F.col("n_total") / MIX_BUDGET_DEN)
            * F.sqrt("cnt")
            / F.col("w_total")
        )
        .cast("long")
        .alias("quota"),
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.concat(F.md5(F.col("doc_id").cast("string")), F.col("doc_id").cast("string"))
        )
    )
    return (
        d.select("doc_id", "lang", rk.alias("rk"))
        .join(F.broadcast(quotas), "lang")
        .select(
            "doc_id",
            "lang",
            (F.col("rk") <= F.col("quota")).alias("selected"),
        )
    )


SQL_MIXTURE_SAMPLE = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang
), tot AS (
  SELECT list_reduce(list_prepend(0.0, list(sqrt(cnt) ORDER BY lang)),
                     (a, b) -> a + b) AS w_total,
         CAST(sum(cnt) AS BIGINT) AS n_total
  FROM counts
), quotas AS (
  SELECT lang,
         CAST(floor(floor(CAST(n_total AS DOUBLE) / {MIX_BUDGET_DEN})
                    * sqrt(cnt) / w_total) AS BIGINT) AS quota
  FROM counts CROSS JOIN tot
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR)
         ) AS rk
  FROM documents
)
SELECT r.doc_id, r.lang, r.rk <= q.quota AS selected
FROM ranked r JOIN quotas q ON r.lang = q.lang
"""


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


def q_chunk_documents(spark, sf_dir):
    """RAG/embedding-prep document chunking: fixed-size token windows
    (CHUNK_SIZE) with overlap (stride CHUNK_STRIDE) — every document
    becomes ceil(max(n_tokens - overlap, 1) / stride) chunks, the last
    chunk keeps the tail, empty/short docs yield exactly one chunk.
    Pure built-ins end to end: ONE tokenize, an integer chunk-count
    formula, a sequence explode keyed by doc_id, and slice/array_join
    per chunk — stateless row-local work, no shuffle at all (the
    explode multiplies rows in place; at 100 TB this is the
    map-side-only step before the embedding stage). The gate compares
    every chunk's text byte-for-byte."""
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "[ \t\n\r]+"),
        lambda t: t != "",
    )
    n = F.size(F.col("toks"))
    n_chunks = F.floor(
        (F.greatest(n - F.lit(CHUNK_SIZE - CHUNK_STRIDE), F.lit(1))
         + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("int")
    ci = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", ci)
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(trim(coalesce(text, '')), '[ \\t\\n\\r]+'),
           x -> x != '') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n_toks,
         CAST((greatest(len(toks) - {CHUNK_SIZE - CHUNK_STRIDE}, 1)
               + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} AS INT) AS n_chunks
  FROM t
), x AS (
  SELECT doc_id, toks, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM n
)
SELECT doc_id, chunk_idx,
       CAST(len(toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                     chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS INT)
         AS n_chunk_tokens,
       array_to_string(toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                            chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
         AS chunk_text
FROM x
"""


def q_dup_span_scrub(spark, sf_dir):
    """Cross-document duplicated-span removal (word-granularity
    ExactSubstr: Lee et al. 2022): every word position covered by a
    token-8-gram that occurs in >= 2 distinct documents is dropped and
    the survivors re-joined. gram_key='md5' so DuckDB re-derives the
    exact gram keys; production default is xxhash64 (8-byte shuffle
    keys). The whole rewrite is value-checked — clean_text is compared
    byte-for-byte via the driver's value hash."""
    from .operators import decontam as DC

    return DC.dup_span_scrub(
        _docs(spark, sf_dir), "doc_id", "text", n=8, min_df=2, gram_key="md5"
    )


SQL_DUP_SPAN_SCRUB = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, u.i AS pos, md5(array_to_string(ws[u.i:u.i+7], ' ')) AS k
  FROM w, UNNEST(range(1, greatest(len(ws) - 7, 0) + 1)) AS u(i)
), dup AS (
  SELECT k FROM (SELECT DISTINCT k, doc_id FROM g)
  GROUP BY k HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, u.j AS cpos
  FROM g JOIN dup USING (k), UNNEST(range(g.pos, g.pos + 8)) AS u(j)
), wp AS (
  SELECT doc_id, u.i AS pos, ws[u.i] AS word
  FROM w, UNNEST(range(1, len(ws) + 1)) AS u(i)
)
SELECT wp.doc_id,
       coalesce(string_agg(wp.word, ' ' ORDER BY wp.pos)
                FILTER (WHERE c.cpos IS NULL), '') AS clean_text,
       count(*) AS n_words,
       count(c.cpos) AS n_removed
FROM wp LEFT JOIN cov c ON c.doc_id = wp.doc_id AND c.cpos = wp.pos
GROUP BY wp.doc_id
"""


def q_dup_line_scrub(spark, sf_dir):
    """CCNet stage-1 duplicated-line removal (Wenzek et al. 2020 §3.1:
    hash every paragraph, drop corpus-wide repeats — the nav/footer/
    cookie-banner killer). The corpus is single-line word-salad, so the
    query first builds a deterministic multi-line "web page" per doc —
    IDENTICAL string math on both engines, same injection idiom as
    q_pii_scrub: a nav line shared by ALL docs, the doc's own words in
    10-word content lines, a blank separator (exempt: structure, not
    content), and a footer shared by doc_id % 7. Then the real operator
    runs with keep-first semantics: exactly one occurrence of each
    duplicated line survives (smallest doc_id*2^22+pos), every other —
    including within-doc repeats — is dropped. clean_text is compared
    RAW, so the value check covers every byte of the rewrite."""
    from .operators.decontam import dup_line_scrub

    d = _docs(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(ws) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.array_join(
            F.slice(ws, (i - F.lit(1)) * F.lit(10) + F.lit(1), F.lit(10)), " "
        ),
    )
    page = F.concat_ws(
        "\n",
        F.lit("home about contact login"),
        F.array_join(chunks, "\n"),
        F.lit(""),
        F.concat(
            F.lit("copyright footer segment "),
            (F.col("doc_id") % 7).cast("string"),
        ),
    )
    return dup_line_scrub(
        d.select("doc_id", page.alias("text")), line_key="md5"
    )


SQL_DUP_LINE_SCRUB = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
), pg AS (
  SELECT doc_id,
    concat_ws(chr(10),
      'home about contact login',
      array_to_string(
        list_transform(range(1, CAST(ceil(len(ws) / 10.0) AS INT) + 1),
          i -> array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ')),
        chr(10)),
      '',
      concat('copyright footer segment ', CAST(doc_id % 7 AS VARCHAR))
    ) AS text
  FROM w
), ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM pg
), occ AS (
  SELECT doc_id, u.i - 1 AS pos, arr[u.i] AS line,
         CASE WHEN len(trim(regexp_replace(lower(arr[u.i]), '[ \t\r]+', ' ', 'g'))) > 0
              THEN md5(trim(regexp_replace(lower(arr[u.i]), '[ \t\r]+', ' ', 'g')))
         END AS k
  FROM ls, UNNEST(range(1, len(arr) + 1)) AS u(i)
), perdoc AS (
  SELECT k, doc_id, min(doc_id * 4194304 + pos) AS e
  FROM occ WHERE k IS NOT NULL GROUP BY k, doc_id
), dup AS (
  SELECT k, min(e) AS keep_e FROM perdoc GROUP BY k HAVING count(*) >= 2
), j AS (
  SELECT o.doc_id, o.pos, o.line,
         (d.keep_e IS NOT NULL
          AND (o.doc_id * 4194304 + o.pos) <> d.keep_e) AS removed
  FROM occ o LEFT JOIN dup d ON d.k = o.k
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE NOT removed), '') AS clean_text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM j GROUP BY doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup cluster representative selection (keep-longest): exact
    5-gram-Jaccard edges (>= 0.2, same relation as `ngram_jaccard_pairs`)
    -> connected components -> one `keep` winner per cluster by
    (n_chars DESC, doc_id ASC); unclustered docs are their own singleton
    cluster and always kept. The reduction step that turns pair discovery
    into an actual deduplicated corpus. Oracle: the full chain — blocked
    candidates, rounded Jaccard filter, recursive-CTE closure, window
    argmax — re-derived in SQL."""
    from .operators.dedup import keep_best_representatives

    d = _docs(spark, sf_dir)
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    cc = connected_components(pairs)
    assigned = (
        d.select(F.col("doc_id").cast("string").alias("record_id"))
        .join(cc, "record_id", "left")
        .select(
            "record_id",
            F.coalesce("cluster_id", "record_id").alias("cluster_id"),
        )
    )
    quality = d.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.col("n_chars").alias("quality"),
    )
    return keep_best_representatives(assigned, quality).select(
        F.col("record_id").alias("doc_id"), "cluster_id", "keep"
    )


SQL_DEDUP_KEEP_BEST = r"""
WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), jp AS (
  SELECT id1, id2 FROM (
    SELECT p.id1, p.id2,
           round(CAST(len(list_intersect(gl.gr, grr.gr)) AS DOUBLE)
                 / (len(gl.gr) + len(grr.gr) - len(list_intersect(gl.gr, grr.gr))),
                 6) AS jaccard
    FROM cand p
    JOIN g gl ON gl.doc_id = p.id1
    JOIN g grr ON grr.doc_id = p.id2
  ) WHERE jaccard >= 0.2
), esym AS (
  SELECT CAST(id1 AS VARCHAR) AS u, CAST(id2 AS VARCHAR) AS v FROM jp
  UNION
  SELECT CAST(id2 AS VARCHAR) AS u, CAST(id1 AS VARCHAR) AS v FROM jp
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN esym e ON r.v = e.u WHERE e.v != r.u
), cc AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), a AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS record_id,
         coalesce(cc.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN cc ON cc.record_id = CAST(d.doc_id AS VARCHAR)
)
SELECT record_id AS doc_id, cluster_id,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, CAST(record_id AS BIGINT)) = 1
       ) AS keep
FROM a
"""


# ---------------------------------------------------------------------------
# Non-SQL-expressible queries (driver records rows-only checks)
# ---------------------------------------------------------------------------

DOC_FIELDS = [FieldSpec("title", "String"), FieldSpec("body", "Text")]

# Fixed match model for the label-free flagship run: high weight on body
# cosine, moderate on title distances, bias so unrelated pairs score ~0.
FLAGSHIP_MODEL = LogisticModel(
    weights=np.array([2.0, 2.0, -1.0, 6.0, -1.0]),
    intercept=-6.0,
    feature_names=feature_names(DOC_FIELDS),
)


def _doc_records(spark, sf_dir):
    from .normalize import normalize_features

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang", "source"
    )
    # a single parquet file scans as ~1 partition; spread rows across the
    # cluster before the pandas-UDF normalize/minhash stages or they run
    # on one core (at real scale the table arrives already partitioned).
    # Unconditional — see _spread on why probing the partition count would
    # cost a throwaway job under AQE.
    d = _spread(d)
    d = d.withColumn(
        "title", F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ")
    ).withColumn("body", F.col("text"))
    return normalize_features(d, ["title", "body"])


def er_clusters_pipeline(
    spark,
    sf_dir,
    stage_times: dict | None = None,
    block_stats: dict | None = None,
):
    """Flagship ER pipeline (block -> candidates -> score -> CC ->
    assemble) over documents-as-pages with the fixed broadcast model.

    ``stage_times``: pass a dict to record per-stage wall seconds
    (candidates / score / cc; assembly is the caller's final action). The
    instrumented mode eagerly materializes the candidate table at the
    stage boundary — one extra checkpoint the plain plan doesn't have
    (documented in BENCH.md) — so a noisy end-to-end total can never mask
    which stage regressed (VERDICT r2 item 2).

    ``block_stats``: pass a dict to record blocking.dropped_block_stats
    for the mega-block cap — the 'no silent caps' metric (item 9).
    """
    import time as _time

    records = track(_doc_records(spark, sf_dir).cache())
    mh = B.minhash_bands_udf(num_perm=96, bands=16, shingle_k=5)
    blocks = track(
        B.generate_blocks(
            records,
            "doc_id",
            {
                "t1": B.first_tokens("title_norm", 2),
                "mh": mh(F.col("body_norm")),
            },
        ).cache()
    )
    t0 = _time.time()
    cands = B.candidate_pairs(blocks, max_block=500, salt_target=100)
    if stage_times is not None:
        cands = cands.localCheckpoint(eager=True)
        stage_times["candidates"] = round(_time.time() - t0, 3)
    if block_stats is not None:
        block_stats.update(B.dropped_block_stats(blocks, 500))
    t0 = _time.time()
    scored = score_pairs(
        cands, records, FLAGSHIP_MODEL, DOC_FIELDS, "doc_id", "_norm",
        lookup=track(try_build_lookup(records, "doc_id", DOC_FIELDS, "_norm")),
    )
    # materialize scored edges once: connected_components AND
    # member_confidence both consume this relation — without the checkpoint
    # the candidate+scoring stages (the expensive part) run twice
    edges = scored.where(F.col("score") >= 0.5).localCheckpoint(eager=True)
    if stage_times is not None:
        stage_times["score"] = round(_time.time() - t0, 3)
    t0 = _time.time()
    assign0 = connected_components(edges)
    if stage_times is not None:
        # the driver fast path / iterative rounds run eagerly inside the
        # call; what remains lazy after it is cheap label projection
        stage_times["cc"] = round(_time.time() - t0, 3)
    assign = member_confidence(assign0, edges)
    clusters = assemble_clusters(
        assign, records, "doc_id", ["doc_id", "lang", "source"]
    )
    return clusters.select(
        "cluster_id",
        "group_size",
        _r6(F.col("confidence_score")).alias("confidence_score"),
        F.array_join(
            F.transform("records", lambda r: r["record_id"]), ","
        ).alias("members"),
    )


def q_grouped_topk(spark, sf_dir):
    """Exact per-source top-3 longest documents via the two-phase salted
    window (operators/topk.py) — the skew-safe replacement for a single
    row_number() window whose hot partition would serialize the stage at
    100 TB. Reference surface: the per-file "best N" result previews
    (dedupe_script.py results assembly). Order is total via the doc_id
    tiebreak, so ranks are deterministic and the oracle is the plain
    window — the operator is EXACT, only the plan differs."""
    from .operators.topk import grouped_topk

    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return grouped_topk(
        d,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        3,
        salt_src="doc_id",
    ).select("source", "doc_id", "n_chars", "rnk")


SQL_GROUPED_TOPK = """
SELECT source, doc_id, n_chars, rnk FROM (
  SELECT source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id ASC) AS INT)
           AS rnk
  FROM documents
) WHERE rnk <= 3
"""


def q_hll_distinct(spark, sf_dir):
    """Per-source distinct-token cardinality via a deterministic
    HyperLogLog sketch (operators/sketches.py): md5 registers (m=256),
    exact-int64 merge state, linear-counting small-range correction.
    At 100 TB the register relation shuffles ≤ groups×256 rows where
    COUNT(DISTINCT) shuffles every distinct token; the exact count is
    computed alongside here as the accuracy baseline (and is itself the
    oracle's second column). The sketch is VALUE-oracled: DuckDB
    re-derives registers, integer Z and the corrected estimate from the
    same md5 hex arithmetic."""
    from .operators.sketches import hll_estimate, hll_registers

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    est = hll_estimate(
        hll_registers(toks, ["source"], "tok"),
        ["source"],
        "est_distinct_tokens",
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct_tokens")
    )
    return est.join(exact, "source").select(
        "source", "est_distinct_tokens", "exact_distinct_tokens"
    )


def _sql_hll_distinct() -> str:
    from .operators.sketches import (
        hll_estimator_ctes,
        hll_reg_sql,
        hll_rho_sql,
    )

    est_ctes = hll_estimator_ctes("regs", ["source"], "est_distinct_tokens")
    return rf"""
WITH tk AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), h AS (
  SELECT source, md5(tok) AS hh FROM tk
), regs AS (
  SELECT source, {hll_reg_sql('hh')} AS reg, max({hll_rho_sql('hh')}) AS rho
  FROM h GROUP BY 1, 2
), {est_ctes}, ex AS (
  SELECT source, count(DISTINCT tok) AS exact_distinct_tokens
  FROM tk GROUP BY source
)
SELECT hll_est.source, hll_est.est_distinct_tokens, ex.exact_distinct_tokens
FROM hll_est JOIN ex ON hll_est.source = ex.source
"""


SQL_HLL_DISTINCT = _sql_hll_distinct()


_BLOOM_M_WORDS = 256  # 8,192 bits
_BLOOM_K = 5
_BLOOM_PRIOR_NIBBLES = tuple("01234567")  # md5(doc_id) → "prior crawl" half


def q_bloom_membership(spark, sf_dir):
    """Cross-crawl membership dedup via a deterministic relational Bloom
    filter (operators/bloom.py). The corpus half whose md5(doc_id) leads
    with nibble 0-7 plays the PRIOR crawl: its texts build a 256-word
    (8,192-bit, k=5) filter — a broadcastable relation — and EVERY
    document probes it. ``truly_seen`` (exact EXISTS against prior
    texts) is computed alongside, so false positives (maybe ∧ ¬truly)
    are visible in the output while false negatives (truly ∧ ¬maybe)
    are impossible — both facts value-checked by the oracle, which
    re-derives h1/h2, the k probe positions, the bit words and the
    bool_and probe verbatim in SQL. At 100 TB the prior crawl's history
    is ≤ m_words rows instead of a join against every historical hash;
    at the gate scales the filter intentionally runs loaded (sf0.1:
    ~2,500 keys in 8,192 bits) so the FP path is exercised, not
    theoretical."""
    from .operators.bloom import bloom_build, bloom_contains

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    prior = d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *_BLOOM_PRIOR_NIBBLES
        )
    )
    filt = bloom_build(prior, "text", _BLOOM_M_WORDS, _BLOOM_K)
    probe = bloom_contains(
        d, "doc_id", "text", filt, _BLOOM_M_WORDS, _BLOOM_K
    )
    truly = (
        d.join(prior.select("text").distinct(), "text", "left_semi")
        .select("doc_id")
        .withColumn("_t", F.lit(True))
    )
    return (
        probe.join(truly, "doc_id", "left")
        .select(
            "doc_id",
            "maybe_seen",
            F.coalesce(F.col("_t"), F.lit(False)).alias("truly_seen"),
        )
    )


def _sql_bloom_membership() -> str:
    from .operators.bloom import positions_sql, word_mask_sql

    m_bits = _BLOOM_M_WORDS * 32
    nibs = ", ".join(f"'{c}'" for c in _BLOOM_PRIOR_NIBBLES)
    ks = ", ".join(str(i) for i in range(_BLOOM_K))
    bword, bmask = word_mask_sql("pos")
    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), prior AS (
  SELECT doc_id, text FROM d
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({nibs})
), ks AS (
  SELECT unnest([{ks}]) AS i
), bpos AS (
  SELECT {positions_sql('hh', 'i', m_bits)} AS pos
  FROM (SELECT md5(text) AS hh FROM prior) CROSS JOIN ks
), filt AS (
  SELECT {bword} AS word, bit_or({bmask}) AS bits
  FROM bpos GROUP BY 1
), ppos AS (
  SELECT doc_id, {positions_sql('hh', 'i', m_bits)} AS pos
  FROM (SELECT doc_id, md5(text) AS hh FROM d) CROSS JOIN ks
), probe AS (
  SELECT ppos.doc_id,
         bool_and((coalesce(filt.bits, 0) & {bmask}) <> 0) AS maybe_seen
  FROM ppos LEFT JOIN filt ON {bword} = filt.word
  GROUP BY 1
)
SELECT probe.doc_id, probe.maybe_seen,
       (d.text IN (SELECT text FROM prior)) AS truly_seen
FROM probe JOIN d ON probe.doc_id = d.doc_id
"""


SQL_BLOOM_MEMBERSHIP = _sql_bloom_membership()


KMV_K = 128


def q_kmv_crawl_jaccard(spark, sf_dir):
    """KMV/bottom-k set-resemblance between two crawls (Broder's
    resemblance estimator on the k minimum hash values — the sketch
    that gives BOTH distinct counts and Jaccard from one mergeable
    state, which HLL cannot): character-5-gram shingle overlap between
    the even- and odd-doc_id halves of the corpus. The estimator: take
    the k smallest md5 values of the UNION of both shingle sets; the
    fraction of those present in both sides estimates J(A,B). The
    exact Jaccard (integer intersection/union counts) rides alongside
    — the same FPs-visible design as bloom_membership, so estimate
    error is measurable in the output, and the md5 determinism makes
    the whole sketch SQL-re-derivable. Scale: each side reduces to its
    distinct-token relation (map-side combinable), the union sample is
    k rows, the exact twin columns are two distinct-counts — at 100 TB
    one would keep only the sketch columns; the corpus-scale work is
    identical either way."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(B.ngram_array("text", n=5)).alias("t"),
    )
    flags = toks.groupBy("t").agg(
        F.max(F.when(F.col("in_a"), 1).otherwise(0)).alias("a"),
        F.max(F.when(~F.col("in_a"), 1).otherwise(0)).alias("b"),
    )
    ranked = flags.select(
        "t", "a", "b", F.md5(F.col("t")).alias("h")
    )
    w = Window.orderBy("h", "t")
    sample = ranked.select(
        "a", "b", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= KMV_K)
    est = sample.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.col("a") * F.col("b")).alias("est_num"),
    )
    exact = flags.agg(
        F.sum(F.col("a") * F.col("b")).alias("inter_exact"),
        F.count(F.lit(1)).alias("union_exact"),
    )
    return est.crossJoin(exact).select(
        "k_used",
        "est_num",
        _r6(F.col("est_num") / F.col("k_used")).alias("jaccard_est"),
        "inter_exact",
        "union_exact",
        _r6(F.col("inter_exact") / F.col("union_exact")).alias(
            "jaccard_exact"
        ),
    )


SQL_KMV_CRAWL_JACCARD = f"""
WITH toks AS (
  SELECT doc_id % 2 = 0 AS in_a,
         unnest(list_distinct(
           list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                          i -> substr(text, i, 5)))) AS t
  FROM documents
), flags AS (
  SELECT t,
         max(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS b
  FROM toks GROUP BY t
), sample AS (
  SELECT a, b FROM (
    SELECT a, b, row_number() OVER (ORDER BY md5(t) ASC, t ASC) AS rk
    FROM flags)
  WHERE rk <= {KMV_K}
), est AS (
  SELECT CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(a * b) AS BIGINT) AS est_num
  FROM sample
), exact AS (
  SELECT CAST(sum(a * b) AS BIGINT) AS inter_exact,
         CAST(count(*) AS BIGINT) AS union_exact
  FROM flags
)
SELECT k_used, est_num,
       round(CAST(est_num AS DOUBLE) / k_used, 6) AS jaccard_est,
       inter_exact, union_exact,
       round(CAST(inter_exact AS DOUBLE) / union_exact, 6)
         AS jaccard_exact
FROM est CROSS JOIN exact
"""


K_ANON_THRESHOLD = 5


def q_k_anonymity(spark, sf_dir):
    """k-anonymity risk audit — the governance counterpart of
    dq_checks/pii_scrub: group the customer table by its
    quasi-identifier tuple (nation, market segment, coarse balance
    bucket) and emit every combination shared by FEWER than
    K_ANON_THRESHOLD individuals — the re-identifiable rows a release
    gate would block or generalize. One groupBy on the quasi key
    (map-side combinable); the balance bucket is exact integer cents
    // 100000, so bucketing cannot drift between engines."""
    # floor (not truncating) division so negative balances bucket the
    # same way in both engines
    cust = _tbl(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100.0, 0).cast("long") / 100000.0
        )
        .cast("long")
        .alias("bal_bucket"),
    )
    return (
        cust.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") < K_ANON_THRESHOLD)
    )


SQL_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(floor(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)
                  / 100000.0) AS BIGINT) AS bal_bucket,
       CAST(count(*) AS BIGINT) AS n_rows
FROM customer
GROUP BY 1, 2, 3
HAVING count(*) < {K_ANON_THRESHOLD}
"""


L_DIVERSITY_THRESHOLD = 3


def q_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's
    necessary complement: a quasi-identifier group can be large (k-safe)
    yet have a HOMOGENEOUS sensitive attribute, so membership alone
    discloses the value. QI = (nation, market segment); sensitive = the
    exact-integer balance bucket the k-anonymity audit uses as a QI
    component. Per group: row count, distinct sensitive values, and
    entropy in micro-nats — each (group, value) cell's
    (c/n)·ln(n/c) term is quantized to int64 BEFORE the group sum (the
    pagerank/lm.py micro-unit trick: float summation order never
    reaches the result), plus the distinct-l flag at l=3. Two stacked
    map-side-combinable groupBys, no joins — the cell relation carries
    (group, value) keys so the group totals ride along via a window
    over the (already shuffled) group key."""
    cust = _tbl(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100.0, 0).cast("long") / 100000.0
        )
        .cast("long")
        .alias("sens"),
    )
    cells = cust.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    n = F.sum("c").over(w)
    term = F.round(
        (F.col("c") / n) * F.log(n / F.col("c")) * F.lit(1e6), 0
    ).cast("long")
    per = cells.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c"),
        term.alias("term"),
    )
    return (
        per.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("term").cast("long").alias("entropy_micronats"),
        )
        .withColumn(
            "l_diverse", F.col("n_distinct") >= L_DIVERSITY_THRESHOLD
        )
    )


SQL_L_DIVERSITY = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)
                    / 100000.0) AS BIGINT) AS sens,
         CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
), per AS (
  SELECT c_nationkey, c_mktsegment, c,
         CAST(round(
           (c / (sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment)))
           * ln((sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment)) / c)
           * 1e6, 0) AS BIGINT) AS term
  FROM cells
)
SELECT c_nationkey, c_mktsegment,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(term) AS BIGINT) AS entropy_micronats,
       count(*) >= {L_DIVERSITY_THRESHOLD} AS l_diverse
FROM per GROUP BY 1, 2
"""


T_CLOSENESS_MICROS = 250_000  # flag groups with EMD > 0.25


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    the third of the release-gate privacy trio: a group can be l-diverse
    yet still leak when its sensitive DISTRIBUTION is skewed far from
    the global one. Sensitive attribute = the ordered balance bucket;
    distance = the ordered-attribute Earth Mover's Distance
    ``EMD = Σ_i |CDF_p(i) − CDF_q(i)| / (m−1)`` over the GLOBAL value
    domain. Exactness: the CDF difference at step i is the exact
    integer ``Σ_{j≤i} (c_j·N − C_j·n)`` (cross-multiplied to clear both
    denominators), accumulated by a key-partitioned window over the
    domain order; the only float op is the final single division,
    rounded to micros. Missing values matter — a group lacking a global
    value still diverges there — so counts sit on a (group × domain)
    grid (domain is the small distinct-value relation; the grid is a
    broadcast cross join, never a row-scaled one)."""
    cust = _tbl(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100.0, 0).cast("long") / 100000.0
        )
        .cast("long")
        .alias("sens"),
    )
    cells = cust.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    glob = cust.groupBy("sens").agg(
        F.count(F.lit(1)).cast("long").alias("gc")
    )
    tot = cust.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    groups = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = (
        groups.crossJoin(F.broadcast(glob))
        .join(
            cells, ["c_nationkey", "c_mktsegment", "sens"], "left"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "sens",
            "n",
            "n_total",
            (
                F.coalesce(F.col("c"), F.lit(0)) * F.col("n_total")
                - F.col("gc") * F.col("n")
            ).alias("d"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    steps = grid.withColumn("cum", F.sum("d").over(w))
    # m (domain size) is a property of the global domain relation — a
    # 1-row broadcast scalar, not a window over the grid
    mrel = glob.agg(F.count(F.lit(1)).cast("long").alias("m"))
    emd = (
        steps.groupBy("c_nationkey", "c_mktsegment", "n", "n_total")
        .agg(F.sum(F.abs(F.col("cum"))).cast("long").alias("sabs"))
        .crossJoin(F.broadcast(mrel))
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n").alias("n_rows"),
            F.round(
                F.col("sabs")
                / (
                    F.col("n").cast("double")
                    * F.col("n_total")
                    * (F.col("m") - 1)
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("emd_micros"),
        )
        .withColumn(
            "t_close", F.col("emd_micros") <= F.lit(T_CLOSENESS_MICROS)
        )
    )
    return emd


SQL_T_CLOSENESS = f"""
WITH cust AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)
                    / 100000.0) AS BIGINT) AS sens
  FROM customer
), cells AS (
  SELECT c_nationkey, c_mktsegment, sens,
         CAST(count(*) AS BIGINT) AS c
  FROM cust GROUP BY 1, 2, 3
), gdist AS (
  SELECT sens, CAST(count(*) AS BIGINT) AS gc FROM cust GROUP BY 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cust),
grps AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM cust GROUP BY 1, 2
), grid AS (
  SELECT g.c_nationkey, g.c_mktsegment, gl.sens, g.n, t.n_total,
         coalesce(ce.c, 0) * t.n_total - gl.gc * g.n AS d
  FROM grps g CROSS JOIN gdist gl CROSS JOIN tot t
  LEFT JOIN cells ce
    ON ce.c_nationkey = g.c_nationkey
   AND ce.c_mktsegment = g.c_mktsegment AND ce.sens = gl.sens
), steps AS (
  SELECT c_nationkey, c_mktsegment, n, n_total,
         sum(d) OVER (PARTITION BY c_nationkey, c_mktsegment
                      ORDER BY sens
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM grid
), mrel AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gdist)
SELECT c_nationkey, c_mktsegment, n AS n_rows,
       CAST(round(CAST(sum(abs(cum)) AS BIGINT)
                  / (CAST(n AS DOUBLE) * n_total * (m - 1)) * 1e6, 0) AS BIGINT)
         AS emd_micros,
       CAST(round(CAST(sum(abs(cum)) AS BIGINT)
                  / (CAST(n AS DOUBLE) * n_total * (m - 1)) * 1e6, 0) AS BIGINT)
         <= {T_CLOSENESS_MICROS} AS t_close
FROM steps CROSS JOIN mrel
GROUP BY c_nationkey, c_mktsegment, n, n_total, m
"""


def q_hll_rollup(spark, sf_dir):
    """Sketch ROLLUP (the reason sketches beat COUNT DISTINCT at scale):
    distinct-token estimates at three grains — (lang, source), lang,
    global — from ONE register computation. GROUPING SETS over
    (grain-keys, register) plans a single Expand+Aggregate, so the token
    stream is hashed exactly once and the coarser grains are register
    MERGES (max of rho), never rescans; COUNT DISTINCT at g grains
    re-shuffles every distinct value g times. Registers, merges and the
    corrected estimates all re-derive in the DuckDB twin."""
    from .operators.sketches import _hex_pair_int, _rho, hll_estimate

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    h = F.md5(F.col("tok"))
    rr = d.select(
        "lang",
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).select(
        "lang",
        "source",
        _hex_pair_int(h, 1).alias("reg"),
        _rho(h).alias("rho"),
    )
    grain = (
        F.when(F.grouping("lang") == 1, F.lit("all"))
        .when(F.grouping("source") == 1, F.lit("lang"))
        .otherwise(F.lit("lang_source"))
    )
    regs = rr.groupingSets(
        [["lang", "source", "reg"], ["lang", "reg"], ["reg"]],
        "lang",
        "source",
        "reg",
    ).agg(grain.alias("grain"), F.max("rho").alias("rho"))
    return hll_estimate(regs, ["grain", "lang", "source"], "distinct_est")


def _sql_hll_rollup() -> str:
    from .operators.sketches import (
        hll_estimator_ctes,
        hll_reg_sql,
        hll_rho_sql,
    )

    est_ctes = hll_estimator_ctes(
        "regs", ["grain", "lang", "source"], "distinct_est"
    )
    return rf"""
WITH tk AS (
  SELECT lang, source,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), h AS (
  SELECT lang, source, md5(tok) AS hh FROM tk
), regs AS (
  SELECT CASE WHEN grouping(lang) = 1 THEN 'all'
              WHEN grouping(source) = 1 THEN 'lang'
              ELSE 'lang_source' END AS grain,
         lang, source, {hll_reg_sql('hh')} AS reg,
         max({hll_rho_sql('hh')}) AS rho
  FROM h
  GROUP BY GROUPING SETS ((lang, source, {hll_reg_sql('hh')}),
                          (lang, {hll_reg_sql('hh')}),
                          ({hll_reg_sql('hh')}))
), {est_ctes}
SELECT grain, lang, source, distinct_est FROM hll_est
"""


SQL_HLL_ROLLUP = _sql_hll_rollup()


_BM25_TERMS = ("window", "merge", "scan")  # mixed document frequencies


def q_bm25_search(spark, sf_dir):
    """BM25 keyword search top-10 (operators/search.py): postings are
    term-filtered BEFORE their shuffle, document-frequency and corpus
    stats broadcast back, final top-k is TakeOrderedAndProject. The
    per-(doc,term) BM25 contribution is quantized to integer micro-units
    before the per-doc sum, so the score is partition-order-independent
    and the DuckDB twin re-derives it bit-for-bit."""
    from .operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=10)


def _sql_bm25_search() -> str:
    from .operators.search import bm25_topk_sql

    return bm25_topk_sql(_BM25_TERMS, k=10)


_PHRASE = "table table"


def q_phrase_search(spark, sf_dir):
    """Exact consecutive-token phrase search via positional postings
    (operators/search.phrase_match): one token explode filtered to the
    phrase's terms before any shuffle, anchor votes (occurrence of term
    i at position p → anchor p−i), and a distinct-offset HAVING — the
    repeated-term phrase chosen here is the case where counting votes
    instead of DISTINCT offsets silently over-matches."""
    from .operators.search import phrase_match

    return phrase_match(_docs(spark, sf_dir), _PHRASE)


def _sql_phrase_search() -> str:
    from .operators.search import phrase_match_sql

    return phrase_match_sql(_PHRASE)


SQL_BM25_SEARCH = _sql_bm25_search()
SQL_PHRASE_SEARCH = _sql_phrase_search()


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def q_dq_checks(spark, sf_dir):
    """Data-quality expectations — the table-contract validation a
    production ingest runs before promoting a snapshot (the
    Deequ/Great-Expectations shape, relationally): each check is one
    row (check name, rows evaluated, violations, pass flag). Checks
    span the main constraint classes: uniqueness (doc_id), completeness
    (non-null text), referential integrity (orders.o_custkey ⊆
    customer — a LEFT ANTI count, the only two-table check), domain
    membership (lang in the allowed set), range (n_chars ≥ 0 and
    consistent with length(text)), and freshness/ordering
    (o_orderdate within the contract window). Each check is a count
    aggregate — map-side combinable, one pass per source table (Spark
    shares the documents scan across its checks via the union plan);
    violations counted, never sampled, so the relation is audit-grade."""
    d = _docs(spark, sf_dir)
    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer")

    def check(name, base, viol_col):
        return base.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(viol_col, 1).otherwise(0)).alias("n_violations"),
        ).select(
            F.lit(name).alias("check"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    uniq = (
        d.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("n_rows"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "n_violations"
            ),
        )
        .select(
            F.lit("doc_id_unique").alias("check"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )
    complete = check("text_not_null", d, F.col("text").isNull())
    domain = check(
        "lang_in_domain",
        d,
        ~F.col("lang").isin("en", "de", "fr", "es", "zh"),
    )
    rng = check(
        "n_chars_matches_text",
        d,
        F.col("n_chars") != F.length(F.coalesce(F.col("text"), F.lit(""))),
    )
    fresh = check(
        "orderdate_in_window",
        orders,
        (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp")),
    )
    orphans = (
        orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(
            F.broadcast(orders.agg(F.count(F.lit(1)).alias("n_rows")))
        )
        .select(
            F.lit("orders_custkey_fk").alias("check"),
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )
    out = uniq
    for df in (complete, domain, rng, fresh, orphans):
        out = out.union(df)
    return out


SQL_DQ_CHECKS = """
SELECT 'doc_id_unique' AS check,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
         AS n_violations,
       coalesce(sum(CASE WHEN c > 1 THEN c END), 0) = 0 AS passed
FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY doc_id)
UNION ALL
SELECT 'text_not_null', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'lang_in_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'n_chars_matches_text', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars != len(coalesce(text, ''))
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN n_chars != len(coalesce(text, ''))
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'orderdate_in_window', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                       OR o_orderdate >= TIMESTAMP '2030-01-01 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
                  OR o_orderdate >= TIMESTAMP '2030-01-01 00:00:00'
                THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       CAST(count(*) AS BIGINT),
       count(*) = 0
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


OUTLIER_MULT_NUM = 3  # IQR fence multiplier 1.5 as the exact ratio 3/2
OUTLIER_MULT_DEN = 2


def q_value_outliers(spark, sf_dir):
    """Per-group Tukey-fence outlier counting over the event log: for
    each event_type, Q1/Q3 of the integer-cents value (EXACT rank
    quantiles — index floor((n-1)/4) and floor(3(n-1)/4) of the sorted
    values, engine-portable because the data is quantized to int64
    cents first), the upper fence Q3 + 1.5·IQR expressed as the integer
    cross-multiplication 2·v > 2·Q3 + 3·IQR (never a float), and the
    count and cents-sum of high outliers. One window rank per group +
    one aggregate — both on the event_type key. The composition point:
    this reuses the exact-quantile idiom of grouped_quantiles and turns
    it into the anomaly-triage relation a monitoring pipeline feeds."""
    ev = _tbl(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    ranked = ev.select(
        "event_type",
        "cents",
        (F.row_number().over(w) - 1).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    q = ranked.where(
        (F.col("rk") == F.floor((F.col("n") - 1) / 4))
        | (F.col("rk") == F.floor(3 * (F.col("n") - 1) / 4))
    ).groupBy("event_type").agg(
        F.min("cents").alias("q1_cents"), F.max("cents").alias("q3_cents")
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1_cents", "q3_cents")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    2 * F.col("cents")
                    > 2 * F.col("q3_cents")
                    + OUTLIER_MULT_NUM
                    * (F.col("q3_cents") - F.col("q1_cents")),
                    1,
                ).otherwise(0)
            ).alias("n_high_outliers"),
            F.sum(
                F.when(
                    2 * F.col("cents")
                    > 2 * F.col("q3_cents")
                    + OUTLIER_MULT_NUM
                    * (F.col("q3_cents") - F.col("q1_cents")),
                    F.col("cents"),
                ).otherwise(0)
            ).alias("outlier_cents_sum"),
        )
        .select(
            "event_type",
            "q1_cents",
            "q3_cents",
            "n_events",
            "n_high_outliers",
            "outlier_cents_sum",
        )
    )


SQL_VALUE_OUTLIERS = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100.0, 0) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) - 1
           AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
), q AS (
  SELECT event_type,
         CAST(min(cents) AS BIGINT) AS q1_cents,
         CAST(max(cents) AS BIGINT) AS q3_cents
  FROM ranked
  WHERE rk = (n - 1) // 4 OR rk = (3 * (n - 1)) // 4
  GROUP BY event_type
)
SELECT ev.event_type, q.q1_cents, q.q3_cents,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN 2 * cents > 2 * q3_cents
                          + 3 * (q3_cents - q1_cents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       CAST(sum(CASE WHEN 2 * cents > 2 * q3_cents
                          + 3 * (q3_cents - q1_cents)
                     THEN cents ELSE 0 END) AS BIGINT)
         AS outlier_cents_sum
FROM ev JOIN q ON ev.event_type = q.event_type
GROUP BY 1, 2, 3
"""


def q_media_dhash(spark, sf_dir):
    """The multimodal decode chain under a FULL value oracle — the
    family's first ★: per document, synthesize a deterministic 24x27
    grayscale BMP (operators/multimodal.synth_pixel — gradient + md5
    noise, the pii_scrub synthesis idiom), push the BYTES through the
    REAL pipeline (magic-byte sniff → from-scratch BMP pixel decode →
    64-bit perceptual dHash, all Arrow-batched mapInPandas), and emit
    (media_id, decoded, dhash). The DuckDB twin never sees the bytes:
    it recomputes the dHash directly from the pixel formula (the 8x9
    grid lands on exact pixel coordinates by construction), so a hash
    match certifies the ENTIRE encode→sniff→decode→hash chain
    bit-for-bit — any defect in header layout, bottom-up row order,
    BGR swap, stride padding, grid sampling or bit packing would flip
    bits. Stateless per-row work, no shuffle; at 100 TB this is the
    map-side image-fingerprint stage feeding media_dhash_pairs."""
    from .operators.multimodal import media_dhash, synthesize_gray_bmp

    keys = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id")
    )
    media = synthesize_gray_bmp(keys)
    return media_dhash(media).select("media_id", "decoded", "dhash")


def _media_dhash_sql() -> str:
    def pxv(y: str, x: str) -> str:
        return (
            f"((2*({x}) + ({y}) + (strpos('0123456789abcdef', "
            f"substr(md5(media_id || ':' || CAST({y} AS VARCHAR) || ':' "
            f"|| CAST({x} AS VARCHAR)), 1, 1)) - 1)) % 256)"
        )

    powers = "[" + ", ".join(str(1 << i) for i in range(64)) + "]"
    return f"""
SELECT media_id, 'real' AS decoded,
  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
            THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
    AS dhash
FROM (
  SELECT media_id,
    list_sum(list_transform(range(0, 64), i ->
      CASE WHEN {pxv("3*(i//8)", "3*(i%8)")} > {pxv("3*(i//8)", "3*(i%8)+3")}
           THEN CAST(({powers})[i+1] AS HUGEINT)
           ELSE CAST(0 AS HUGEINT) END)) AS s
  FROM (SELECT CAST(doc_id AS VARCHAR) AS media_id FROM documents))
"""


SQL_MEDIA_DHASH = _media_dhash_sql()


def q_media_dhash_png(spark, sf_dir):
    """The SAME decode-chain oracle through the PNG path: identical
    pixel formula, identical expected hashes (SQL_MEDIA_DHASH is shared
    verbatim), but the bytes go through the from-scratch PNG decoder —
    zlib inflate, filter reconstruction, grayscale color type — instead
    of the BMP row parser. Two independent decoders converging on one
    formula-derived hash is the strongest cross-check the family
    has."""
    from .operators.multimodal import media_dhash, synthesize_gray_bmp

    keys = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id")
    )
    media = synthesize_gray_bmp(keys, fmt="png")
    return media_dhash(media).select("media_id", "decoded", "dhash")


def q_media_near_dup_pairs(spark, sf_dir):
    """The perceptual near-dup PAIR JOIN under a full value oracle —
    the image-side simhash_pairs: per document synthesize a BMP whose
    pixels share a per-(lang, doc_id%97) GROUP base pattern plus rare
    per-doc perturbations (operators/multimodal.synth_pixel_grouped),
    run the real decode→dHash chain, then the 4x16-bit PIGEONHOLE band
    join with exact bit_count verification at Hamming <= 3
    (media_dhash_pairs). Same-group images land within a few bits,
    cross-group images ~32 bits apart. The oracle recomputes every
    dHash from the pixel formula and brute-forces ALL pairs — so a
    hash match proves the banded join finds EXACTLY the all-pairs
    result (the pigeonhole completeness argument, value-checked), on
    top of the decode-chain guarantees of media_dhash."""
    from .operators.multimodal import (
        media_dhash,
        media_dhash_pairs,
        synthesize_grouped_bmp,
    )

    keys = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.concat_ws(
            "|", F.col("lang"), (F.col("doc_id") % 97).cast("string")
        ).alias("group_key"),
    )
    hashed = media_dhash(synthesize_grouped_bmp(keys))
    return media_dhash_pairs(hashed, max_hamming=3).select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


def _media_near_dup_sql() -> str:
    def pxv(y: str, x: str) -> str:
        # sampled coordinates are always grid multiples, so the
        # perturbation's (y%3=0 AND x%3=0) guard is identically true
        # here and omitted
        base = (
            f"((2*({x}) + ({y}) + 8*(strpos('0123456789abcdef', "
            f"substr(md5(gk || ':' || CAST({y} AS VARCHAR) || ':' "
            f"|| CAST({x} AS VARCHAR)), 1, 1)) - 1)))"
        )
        pert = (
            f"(CASE WHEN substr(md5(media_id || ':' "
            f"|| CAST({y} AS VARCHAR) || ':' || CAST({x} AS VARCHAR)),"
            f" 1, 2) = '00' THEN 16 ELSE 0 END)"
        )
        return f"(({base} + {pert}) % 256)"

    powers = "[" + ", ".join(str(1 << i) for i in range(64)) + "]"
    return f"""
WITH k AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         lang || '|' || CAST(doc_id % 97 AS VARCHAR) AS gk
  FROM documents
), h AS MATERIALIZED (
  SELECT media_id,
    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
              THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
      AS dh
  FROM (
    SELECT media_id,
      list_sum(list_transform(range(0, 64), i ->
        CASE WHEN {pxv("3*(i//8)", "3*(i%8)")} > {pxv("3*(i//8)", "3*(i%8)+3")}
             THEN CAST(({powers})[i+1] AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END)) AS s
    FROM k)
)
SELECT a.media_id AS id1, b.media_id AS id2,
       CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dh, b.dh)) <= 3
"""


SQL_MEDIA_NEAR_DUP_PAIRS = _media_near_dup_sql()


def q_media_wav_envelope(spark, sf_dir):
    """The AUDIO decode chain under a full value oracle (companion to
    media_dhash): per document, synthesize an 8-bit mono PCM WAV
    (stdlib RIFF writer, samples from the shared formula
    operators/multimodal.synth_sample), push the BYTES through the real
    sniff→wave-decode path, and emit the exact-integer per-bin
    sum-of-squares envelope. The oracle recomputes each bin from the
    formula — integer equality, zero float tolerance; one wrong sample
    anywhere in the RIFF parse shifts a sum. Stateless map-side
    work."""
    from .operators.multimodal import synthesize_wav, wav_envelope_ints

    keys = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id")
    )
    return wav_envelope_ints(synthesize_wav(keys))


def _media_wav_envelope_sql() -> str:
    from .operators.multimodal import SYNTH_WAV_N, WAV_ENV_BINS

    bin_w = SYNTH_WAV_N // WAV_ENV_BINS
    return f"""
SELECT media_id, CAST(i // {bin_w} AS INT) AS bin,
       CAST(sum((s - 128) * (s - 128)) AS BIGINT) AS ss
FROM (
  SELECT media_id, i,
         (3 * i + 7 * (strpos('0123456789abcdef',
            substr(md5(media_id || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1))
           % 256 AS s
  FROM (SELECT CAST(doc_id AS VARCHAR) AS media_id FROM documents)
  CROSS JOIN (SELECT unnest(range(0, {SYNTH_WAV_N})) AS i))
GROUP BY 1, 2
"""


SQL_MEDIA_WAV_ENVELOPE = _media_wav_envelope_sql()


# release-gate thresholds as integer cross-multiplication ratios
# (num/den of the allowed fraction) — no float at a gate boundary
GATE_CONTAM = (1, 20)  # contaminated docs < 5%
GATE_DUP = (1, 5)  # heavy-dup docs (ratio >= 0.3) < 20%
GATE_KANON = (1, 20)  # re-identifiable customers < 5%
GATE_PII = (3, 10)  # docs carrying PII < 30%


def q_release_gate(spark, sf_dir):
    """The snapshot release gate — the capstone governance relation a
    promotion step consumes ("can this corpus ship?"): one row per
    gate with exact integer numerator/denominator and a boolean
    verdict. Gates: contract violations (dq_checks, must be zero),
    benchmark contamination below 5% of docs, heavy n-gram duplication
    (ratio >= 3/10, integer cross-multiplied) below 20%,
    k-anonymity-risky customers below 5%, PII-bearing docs below 30%.
    Every threshold compares integers (n·den <= d·num), so the verdict
    cannot flip between engines; every component reuses its own
    value-oracled relation, and the oracle recomposes them verbatim.
    Physically each gate is one aggregate over an already-oracled
    subplan — the composite adds no new shuffle shape."""
    dq = q_dq_checks(spark, sf_dir).agg(
        F.sum("n_violations").alias("n"), F.sum("n_rows").alias("d")
    )
    n_docs = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("d"))
    contam = (
        q_decontaminate_ngrams(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_docs))
    )
    dup = (
        q_dup_ngram_ratio(spark, sf_dir)
        .where(F.col("n_dup_ngrams") * 10 >= F.col("n_ngrams") * 3)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_docs))
    )
    n_cust = _tbl(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("d")
    )
    kanon = (
        q_k_anonymity(spark, sf_dir)
        .agg(F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n"))
        .crossJoin(F.broadcast(n_cust))
    )
    pii = (
        q_pii_scrub(spark, sf_dir)
        .where(
            F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones") > 0
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_docs))
    )

    def row(name, df, num, den):
        return df.select(
            F.lit(name).alias("gate"),
            F.col("n").cast("long").alias("n"),
            F.col("d").cast("long").alias("d"),
            (F.col("n") * den <= F.col("d") * num).alias("ok"),
        )

    out = dq.select(
        F.lit("dq_violations").alias("gate"),
        F.col("n").cast("long").alias("n"),
        F.col("d").cast("long").alias("d"),
        (F.col("n") == 0).alias("ok"),
    )
    for name, df, (num, den) in [
        ("contaminated_docs", contam, GATE_CONTAM),
        ("heavy_dup_docs", dup, GATE_DUP),
        ("k_anon_risky_rows", kanon, GATE_KANON),
        ("pii_docs", pii, GATE_PII),
    ]:
        out = out.union(row(name, df, num, den))
    return out


def _release_gate_sql() -> str:
    return f"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
nc AS (SELECT CAST(count(*) AS BIGINT) AS d FROM customer)
SELECT 'dq_violations' AS gate,
       CAST(sum(n_violations) AS BIGINT) AS n,
       CAST(sum(n_rows) AS BIGINT) AS d,
       sum(n_violations) = 0 AS ok
FROM (__DQ__)
UNION ALL
SELECT 'contaminated_docs', CAST(count(*) AS BIGINT), nd.d,
       count(*) * {GATE_CONTAM[1]} <= nd.d * {GATE_CONTAM[0]}
FROM (__CONTAM__) CROSS JOIN nd GROUP BY nd.d
UNION ALL
SELECT 'heavy_dup_docs', CAST(count(*) AS BIGINT), nd.d,
       count(*) * {GATE_DUP[1]} <= nd.d * {GATE_DUP[0]}
FROM (__DUP__) CROSS JOIN nd
WHERE n_dup_ngrams * 10 >= n_ngrams * 3 GROUP BY nd.d
UNION ALL
SELECT 'k_anon_risky_rows',
       CAST(coalesce(sum(n_rows), 0) AS BIGINT), nc.d,
       coalesce(sum(n_rows), 0) * {GATE_KANON[1]} <= nc.d * {GATE_KANON[0]}
FROM (__KANON__) CROSS JOIN nc GROUP BY nc.d
UNION ALL
SELECT 'pii_docs', CAST(count(*) AS BIGINT), nd.d,
       count(*) * {GATE_PII[1]} <= nd.d * {GATE_PII[0]}
FROM (__PII__) CROSS JOIN nd
WHERE n_emails + n_ipv4 + n_phones > 0 GROUP BY nd.d
"""


def q_profile_table(spark, sf_dir):
    """One-pass data profiling of the documents table (operators/
    profile.py): stack-melt feeds every column's null counts, min/max
    and md5-HLL distinct estimate from a SINGLE scan — per-column jobs
    would re-scan the table k times. Estimates are deterministic (same
    sketch as hll_distinct), so even they are value-oracled."""
    from .operators.profile import profile_table

    return profile_table(_docs(spark, sf_dir), _PROFILE_COLS)


def _sql_profile_table() -> str:
    from .operators.profile import profile_table_sql

    return profile_table_sql("documents", _PROFILE_COLS)


SQL_PROFILE_TABLE = _sql_profile_table()


def _tbl(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem — the canonical
    wide-aggregation scan. Exactness contract: money/quantity/rate
    columns are 2-decimal by construction, so every sum runs over exact
    integer cents / basis points (float partial-sum order is partition-
    dependent; int64 is not; 64-bit headroom ~9e7 rows per group at max
    TPC-H prices — beyond that, DECIMAL(38) sums are the production
    choice). Averages divide two exact integers once. One map-side
    combinable aggregation; the filter is pushed to the parquet scan."""
    li = _tbl(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    qty_c = F.round(F.col("l_quantity") * 100.0, 0).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    disc_b = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    tax_b = F.round(F.col("l_tax") * 100.0, 0).cast("long")
    g = (
        li.select(
            "l_returnflag",
            "l_linestatus",
            qty_c.alias("qc"),
            price_c.alias("pc"),
            disc_b.alias("db"),
            tax_b.alias("tb"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qc").alias("sqc"),
            F.sum("pc").alias("spc"),
            F.sum(F.col("pc") * (100 - F.col("db"))).alias("sdp"),
            F.sum(F.col("pc") * (100 - F.col("db")) * (100 + F.col("tb"))).alias(
                "sch"
            ),
            F.sum("db").alias("sdb"),
            F.count("*").alias("n"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        _r6(F.col("sqc") / 100.0).alias("sum_qty"),
        _r6(F.col("spc") / 100.0).alias("sum_base_price"),
        _r6(F.col("sdp") / 10000.0).alias("sum_disc_price"),
        _r6(F.col("sch") / 1000000.0).alias("sum_charge"),
        _r6(F.col("sqc") / (100.0 * F.col("n"))).alias("avg_qty"),
        _r6(F.col("spc") / (100.0 * F.col("n"))).alias("avg_price"),
        _r6(F.col("sdb") / (100.0 * F.col("n"))).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100.0, 0) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS pc,
         CAST(round(l_discount * 100.0, 0) AS BIGINT) AS db,
         CAST(round(l_tax * 100.0, 0) AS BIGINT) AS tb
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
), g AS (
  SELECT l_returnflag, l_linestatus,
         sum(qc) AS sqc, sum(pc) AS spc,
         sum(pc * (100 - db)) AS sdp,
         sum(pc * (100 - db) * (100 + tb)) AS sch,
         sum(db) AS sdb, count(*) AS n
  FROM c GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       round(sqc / 100.0, 6) AS sum_qty,
       round(spc / 100.0, 6) AS sum_base_price,
       round(sdp / 10000.0, 6) AS sum_disc_price,
       round(sch / 1000000.0, 6) AS sum_charge,
       round(sqc / (100.0 * n), 6) AS avg_qty,
       round(spc / (100.0 * n), 6) AS avg_price,
       round(sdb / (100.0 * n), 6) AS avg_disc,
       n AS count_order
FROM g
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped 3-way join + top-k: filtered customer dim
    broadcast into orders, the filtered orders side broadcast into
    lineitem (the fact table NEVER shuffles — at 100 TB that is the
    whole game), integer-basis-point revenue summed exactly, top-10 via
    TakeOrderedAndProject. Filters reach both parquet scans."""
    cutoff = F.lit("1998-06-30").cast("timestamp")
    cust = (
        _tbl(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev_u = (
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
    )
    j = li.join(
        F.broadcast(orders.join(F.broadcast(cust),
                                orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    g = (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_u).alias("rev_u"))
        .select(
            "l_orderkey",
            _r6(F.col("rev_u") / 10000.0).alias("revenue"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "o_orderpriority",
        )
    )
    return g.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       round(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
             / 10000.0, 6) AS revenue,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: revenue from lineitems whose
    SUPPLIER sits in the same nation as the ordering customer, for one
    region and a two-year order window. The join strategy is the Q3
    idiom extended one level: region→nation→customer collapse into one
    broadcast dim, orders (date-filtered) joins it broadcast-side, the
    filtered order set broadcasts into lineitem, and supplier broadcasts
    last with the local-supplier equality (s_nationkey = c_nationkey)
    applied in the join condition — the lineitem fact table never
    shuffles. Revenue in exact integer basis points (Q3's device), so
    the DuckDB twin is bit-identical."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    region = (
        _tbl(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = _tbl(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = _tbl(spark, sf_dir, "customer").join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    supp = _tbl(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_u = (
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
    )
    j = li.join(
        F.broadcast(orders), li.l_orderkey == orders.o_orderkey
    ).join(
        F.broadcast(supp),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.count("*").alias("n_lineitems"),
            _r6(F.sum(rev_u) / 10000.0).alias("revenue"),
        )
        .select("n_name", "n_lineitems", "revenue")
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       count(*) AS n_lineitems,
       round(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
             / 10000.0, 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_large_order_customers(spark, sf_dir):
    """TPC-H Q18 shape — the aggregation-driven semi-join, the
    complementary physical pattern to Q3/Q5's broadcast story: the
    qualifying set (orders whose total lineitem quantity exceeds 200) is
    itself the output of a fact-table aggregation, so nothing here is
    broadcast-SIZED by construction at web scale. One map-side-combinable
    shuffle builds the per-order quantity sums; the orders join then
    REUSES that exchange's partitioning (both sides keyed on the order
    key), and the customer join is the plain co-partitioned big-big join
    — at the test scale AQE is free to downgrade it to broadcast, which
    is the adaptive behavior you want, not a plan bug. Quantities are
    integral doubles → exact int64 sums; price in exact cents."""
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    orders = _tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            F.round(F.col("o_totalprice") * 100.0, 0)
            .cast("long")
            .alias("total_price_cents"),
            "sum_qty",
        )
    )


SQL_LARGE_ORDER_CUSTOMERS = """
SELECT c_name,
       o_orderkey,
       epoch_us(o_orderdate) AS o_orderdate_us,
       CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS total_price_cents,
       sum_qty
FROM (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 200
) q
JOIN orders ON o_orderkey = q.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape — the correlated-scalar-subquery pattern: revenue
    locked in unusually small orders, i.e. lineitems whose quantity is
    below 20% of the per-part average, for a handful of brands. The
    physical plan this wants: part filters to a broadcastable brand
    slice FIRST (so the per-part aggregate runs over the filtered
    lineitems only — predicate pushdown through the aggregate, the thing
    a naive correlated rewrite misses), one map-side-combinable groupBy
    builds (sum_qty, cnt) per part, and the fact joins that tiny
    aggregate broadcast-side. The 0.2·avg predicate is made EXACT
    integer arithmetic: qty < 0.2·(sum/cnt)  ⇔  5·qty·cnt < sum — no
    float division, bit-identical in DuckDB."""
    brands = ("Brand#5", "Brand#14", "Brand#23")
    parts = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_brand").isin(*brands))
        .select("p_partkey", "p_brand")
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100.0, 0)
        .cast("long")
        .alias("price_cents"),
    )
    branded = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    pq = branded.groupBy("l_partkey").agg(
        F.sum("q").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        branded.join(F.broadcast(pq), "l_partkey")
        .where(5 * F.col("q") * F.col("cnt") < F.col("sum_qty"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum("price_cents").alias("revenue_cents"),
        )
        .select("p_brand", "n_small", "revenue_cents")
    )


SQL_SMALL_QUANTITY_REVENUE = """
WITH branded AS (
  SELECT p_brand, l_partkey, CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS price_cents
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand IN ('Brand#5', 'Brand#14', 'Brand#23')
), pq AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sum_qty, count(*) AS cnt
  FROM branded GROUP BY l_partkey
)
SELECT p_brand,
       count(*) AS n_small,
       CAST(sum(price_cents) AS BIGINT) AS revenue_cents
FROM branded JOIN pq USING (l_partkey)
WHERE 5 * q * cnt < sum_qty
GROUP BY p_brand
"""


def q_late_ship_priority(spark, sf_dir):
    """TPC-H Q4 shape — the EXISTS fact-to-fact semi-join: count orders
    per priority, in a six-month window, that had AT LEAST ONE lineitem
    shipped more than 60 days after the order date. The semi-join is the
    physical point: Spark's left_semi stops probing an order at its
    first matching lineitem and emits each order at most once — no
    post-join distinct, no row multiplication from multi-lineitem
    orders. The equi key (orderkey) carries the join; the lateness
    predicate rides as a non-equi residual; neither side is assumed
    broadcastable (at web scale both are facts — AQE may still downgrade
    at test scale, which is the adaptive behavior we want)."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-07-01").cast("timestamp")
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = _tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.timestamp_add("DAY", F.lit(60), orders.o_orderdate)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select("o_orderpriority", "n_orders")
    )


SQL_LATE_SHIP_PRIORITY = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def q_drift_psi(spark, sf_dir):
    """Population-Stability-Index drift audit between two crawl
    snapshots (the distribution-shift monitor a training pipeline runs
    before trusting a new crawl; PSI is the industry-standard scorecard
    drift statistic): corpus split into deterministic md5-keyed halves
    (the self-contained two-crawls idiom of trigram_lm_score/dsir),
    doc-length distribution bucketed at 50-char grain, per-bucket
    PSI contribution (p_a − p_b)·ln(p_a/p_b) with Laplace +0.5 bucket
    smoothing so empty cells never produce ±inf, plus the total in-band.
    Scale shape: ONE map-side-combinable groupBy builds the cell
    relation (≤ n_buckets rows); both totals are 1-row scalar
    broadcasts (the plan-lint allowance pair). Each contribution is one
    fixed chain of IEEE ops over exact-integer inputs rounded to
    micro-nats, so every row is bit-identical in DuckDB."""
    d = _docs(spark, sf_dir)
    is_a = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    b = d.select(
        (F.col("n_chars") / 50).cast("long").alias("bucket"),
        F.when(is_a, 1).otherwise(0).alias("ia"),
    )
    cells = b.groupBy("bucket").agg(
        F.sum("ia").cast("long").alias("cnt_a"),
        F.sum(1 - F.col("ia")).cast("long").alias("cnt_b"),
    )
    tot = cells.agg(
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum("cnt_b").cast("long").alias("nb"),
        F.count("*").cast("long").alias("nbk"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    pa = (F.col("cnt_a") + 0.5) / (F.col("na") + 0.5 * F.col("nbk"))
    pb = (F.col("cnt_b") + 0.5) / (F.col("nb") + 0.5 * F.col("nbk"))
    contrib = F.round((pa - pb) * F.log(pa / pb) * F.lit(1e6), 0).cast("long")
    per = j.select(
        "bucket", "cnt_a", "cnt_b", contrib.alias("psi_contrib_micros")
    )
    total = per.agg(
        F.sum("psi_contrib_micros").cast("long").alias("psi_total_micros")
    )
    return per.crossJoin(F.broadcast(total)).select(
        "bucket", "cnt_a", "cnt_b", "psi_contrib_micros", "psi_total_micros"
    )


SQL_DRIFT_PSI = """
WITH b AS (
  SELECT n_chars // 50 AS bucket,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS ia
  FROM documents
), cells AS (
  SELECT bucket, CAST(sum(ia) AS BIGINT) AS cnt_a,
         CAST(sum(1 - ia) AS BIGINT) AS cnt_b
  FROM b GROUP BY 1
), tot AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS na, CAST(sum(cnt_b) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS nbk
  FROM cells
), per AS (
  SELECT bucket, cnt_a, cnt_b,
         CAST(round(
           ((cnt_a + 0.5) / (na + 0.5 * nbk)
            - (cnt_b + 0.5) / (nb + 0.5 * nbk))
           * ln(((cnt_a + 0.5) / (na + 0.5 * nbk))
                / ((cnt_b + 0.5) / (nb + 0.5 * nbk))) * 1e6,
           0) AS BIGINT) AS psi_contrib_micros
  FROM cells, tot
)
SELECT bucket, cnt_a, cnt_b, psi_contrib_micros,
       (SELECT CAST(sum(psi_contrib_micros) AS BIGINT) FROM per)
         AS psi_total_micros
FROM per
"""


_IBLT_M_BLOCK = 512  # 3 subtables × 512 = 1,536 cells; decodes diffs ≤ ~1,000


def q_iblt_reconcile(spark, sf_dir):
    """IBLT set reconciliation between two crawl snapshots (Eppstein et
    al., SIGCOMM 2011 difference digest): snapshot A = every doc_id,
    snapshot B = A minus an md5-keyed ~1/32 slice (docs B lost) plus a
    synthetic ~1/32 slice of shifted new ids (docs B gained). Each side
    is summarized into a FIXED 1,536-cell count/XOR table — one
    map-side-combinable groupBy per side, so at 100 TB the shuffle
    carries ≤ K·m_block cell rows per partition, not the key sets —
    the tables are subtracted (common keys cancel exactly) and a
    bounded peeling decode recovers the symmetric difference with the
    side that holds each key. Contrast: the exact-anti-join approach
    shuffles BOTH full key sets; this ships O(|diff|) state. Output
    (k, side): side=+1 → A-only (lost), side=−1 → B-only (gained).
    Determinism: u60/u31 md5-prefix keys and checksums, int64
    count/XOR algebra — the DuckDB twin unrolls the identical peel
    rounds bit-for-bit. See operators/iblt.py."""
    from .operators.iblt import iblt_build, iblt_diff, iblt_peel

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("k"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("h"),
    )
    a = d.select("k")
    b = d.where(F.col("h") >= "08").select("k").unionAll(
        d.where(F.col("h") >= "f8").select(
            (F.col("k") + F.lit(10000000)).cast("long").alias("k")
        )
    )
    cells_a = iblt_build(a, _IBLT_M_BLOCK)
    cells_b = iblt_build(b, _IBLT_M_BLOCK)
    return iblt_peel(iblt_diff(cells_a, cells_b), _IBLT_M_BLOCK).select(
        "k", "side"
    )


def _iblt_reconcile_sql() -> str:
    from .operators.iblt import iblt_reconcile_sql

    keys_a = "SELECT CAST(doc_id AS BIGINT) AS k FROM documents"
    keys_b = (
        "SELECT CAST(doc_id AS BIGINT) AS k FROM documents"
        " WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '08'"
        " UNION ALL"
        " SELECT CAST(doc_id + 10000000 AS BIGINT) AS k FROM documents"
        " WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'f8'"
    )
    return iblt_reconcile_sql(keys_a, keys_b, _IBLT_M_BLOCK, rounds=8)


def _u31_col(c):
    """Spark twin of _hex_u31_sql: first 8 md5 hex chars as u31."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % F.lit(
        2147483648
    )


def q_truth_discovery(spark, sf_dir):
    """Truth discovery over conflicting annotator claims (Pasternack &
    Roth 2010 "Sums"): the data-fusion verdict a linkage pipeline runs
    to pick which conflicting field value to publish, weighting votes by
    EARNED source reliability instead of one-row-one-vote. Claims are a
    deterministic md5-keyed fixture over the corpus (the injected-PII /
    injected-dup idiom): 3 annotator slots per document drawn from 12
    annotators; annotators 0-7 assert the document's true lang,
    annotators 8-11 assert an md5-derived fake ('xx0'..'xx3') nobody
    corroborates. 3 Sums rounds in int64 micro-units (see
    operators/fusion.py for the integer normalization recipe); output =
    per-document argmax value with its belief, ties by value asc."""
    from .operators.fusion import sums_truth_discovery

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    c = d.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    )
    src = _u31_col(
        F.concat(
            F.lit("src|"),
            F.col("k").cast("string"),
            F.lit("|"),
            F.col("doc_id").cast("string"),
        )
    ) % 12
    c = c.select("doc_id", "lang", src.alias("src"))
    lie = F.concat(
        F.lit("xx"),
        (
            _u31_col(
                F.concat(
                    F.lit("lie|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("src").cast("string"),
                )
            )
            % 4
        ).cast("string"),
    )
    claims = c.select(
        "src",
        F.col("doc_id").alias("ent"),
        F.when(F.col("src") < 8, F.col("lang")).otherwise(lie).alias("val"),
    )
    return sums_truth_discovery(claims, rounds=3)["decisions"]


def _truth_discovery_sql(rounds: int = 3) -> str:
    """Unrolled Sums fixpoint: each round's belief/trust relations as
    MATERIALIZED CTEs (each is referenced twice — by its max subquery
    and the next half-step), integer ``x * 1e6 // max`` normalization
    matching Spark's ``div`` exactly on the positive domain."""
    src_h = _hex_u31_sql(
        "md5('src|' || CAST(k AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR))"
    )
    lie_h = _hex_u31_sql(
        "md5('lie|' || CAST(doc_id AS VARCHAR) || '|' || CAST(src AS VARCHAR))"
    )
    parts = [
        f"""c1 AS (
  SELECT doc_id, lang, ({src_h}) % 12 AS src
  FROM documents CROSS JOIN (SELECT unnest(range(1, 4)) AS k) r
)""",
        f"""claims AS MATERIALIZED (
  SELECT DISTINCT src, doc_id AS ent,
         CASE WHEN src < 8 THEN lang
              ELSE 'xx' || CAST(({lie_h}) % 4 AS VARCHAR) END AS val
  FROM c1
)""",
        "t0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS trust"
        " FROM claims)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""b{r} AS MATERIALIZED (
  SELECT ent, val, CAST(sum(t.trust) AS BIGINT) AS b
  FROM claims c JOIN t{p} t USING (src) GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""bn{r} AS MATERIALIZED (
  SELECT ent, val, b * 1000000 // (SELECT max(b) FROM b{r}) AS belief
  FROM b{r}
)"""
        )
        parts.append(
            f"""tt{r} AS MATERIALIZED (
  SELECT src, CAST(sum(belief) AS BIGINT) AS t
  FROM claims JOIN bn{r} USING (ent, val) GROUP BY 1
)"""
        )
        parts.append(
            f"""t{r} AS MATERIALIZED (
  SELECT src, t * 1000000 // (SELECT max(t) FROM tt{r}) AS trust
  FROM tt{r}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT ent, val, belief AS belief_micros FROM (
  SELECT ent, val, belief,
         row_number() OVER (PARTITION BY ent
                            ORDER BY belief DESC, val ASC) AS rn
  FROM bn{rounds}
) WHERE rn = 1
"""
    )


def q_dsir_select(spark, sf_dir):
    """DSIR importance-weighted data selection (Xie et al. 2023) over
    the documents corpus: hashed unigram+bigram bucket features, target
    slice = md5-keyed 1/4 of docs (the self-contained idiom of
    trigram_lm_score), raw docs scored by the exact integer micro-nat
    importance log-ratio. See operators/dsir.py for the scale design
    (fixed-size broadcast model, one corpus explode, integer sums)."""
    from .operators.dsir import dsir_scores

    return dsir_scores(_docs(spark, sf_dir))


def _dsir_sql() -> str:
    from .operators.dsir import N_BUCKETS, TARGET_HEX, TOKEN_SPLIT_RE

    hexes = ", ".join(f"'{h}'" for h in TARGET_HEX)
    return f"""
WITH d AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({hexes}) AS is_target,
         list_filter(
           regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                 '{TOKEN_SPLIT_RE}'),
           t -> t != '') AS tk
  FROM documents
), ft AS (
  SELECT doc_id, is_target,
         unnest(list_concat(
           tk,
           list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                          i -> tk[i] || ' ' || tk[i + 1]))) AS ft
  FROM d WHERE len(tk) > 0
), fb AS (
  SELECT doc_id, is_target,
         CAST({_hex_u31_sql('md5(ft)')} % {N_BUCKETS} AS INTEGER) AS bucket,
         count(*) AS cnt
  FROM ft GROUP BY 1, 2, 3
), bstats AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT) AS c_t,
         CAST(sum(CASE WHEN is_target THEN 0 ELSE cnt END) AS BIGINT) AS c_r
  FROM fb GROUP BY bucket
), totals AS (
  SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_r) AS BIGINT) AS n_r
  FROM bstats
), lr AS (
  SELECT bucket,
         CAST(round(ln(((c_t + 1) / (n_t + {N_BUCKETS}.0))
                       / ((c_r + 1) / (n_r + {N_BUCKETS}.0))) * 1e6, 0)
              AS BIGINT) AS lr_unats
  FROM bstats CROSS JOIN totals
), raw_scores AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_feats,
         CAST(sum(cnt * lr_unats) AS BIGINT) AS dsir_unats
  FROM fb JOIN lr USING (bucket)
  WHERE NOT is_target
  GROUP BY doc_id
), scored AS (
  SELECT d.doc_id,
         coalesce(n_feats, 0) AS n_feats,
         coalesce(dsir_unats, 0) AS dsir_unats
  FROM d LEFT JOIN raw_scores USING (doc_id)
  WHERE NOT d.is_target
)
SELECT doc_id, n_feats, dsir_unats,
       dsir_unats > (SELECT avg(dsir_unats) FROM scored) AS selected
FROM scored
"""


def q_html_text_extract(spark, sf_dir):
    """HTML → text extraction (the north-star input_hint's html:binary
    stage). The corpus stores no HTML, so the query synthesizes a
    deterministic page per row — entity-escaped text inside a realistic
    template with title/style/script/comment/link — with IDENTICAL
    string math on both engines (the pii_scrub injection idiom), then
    runs the BUILT-IN extraction tier (functions/htmltext.py — the
    production HTMLParser UDF tier is parity-tested against it in
    test_htmltext). The value check covers every byte (sha2) plus the
    round-trip flag: extraction must recover the escaped text exactly."""
    from .functions import htmltext as H

    d = _docs(spark, sf_dir)
    esc = F.replace(
        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("<"),
        F.lit("&lt;"),
    )
    did = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit("<html><head><title>d"), did,
        F.lit('</title><style>p{color:red}</style>'
              '<script type="text/javascript">var x = 1 < 2;</script>'
              "</head><body><!-- c"), did,
        F.lit(' --><p class="main">'), esc,
        F.lit('</p><a href="https://example.com/'), did,
        F.lit('">link</a></body></html>'),
    )
    norm_text = F.trim(F.regexp_replace(F.col("text"), "[ \t\n\r]+", " "))
    expected = F.concat(F.lit("d"), did, F.lit(" "), norm_text, F.lit(" link"))
    extracted = H.html_to_text_expr(page)
    return d.select(
        "doc_id",
        F.sha2(extracted, 256).alias("extracted_sha"),
        H.href_count_expr(page).alias("n_links"),
        (extracted == expected).alias("round_trip"),
    )


def _html_extract_sql() -> str:
    from .functions.htmltext import html_to_text_sql

    page = (
        "'<html><head><title>d' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p{color:red}</style>"
        '<script type="text/javascript">var x = 1 < 2;</script>'
        "</head><body><!-- c' || CAST(doc_id AS VARCHAR) || "
        "' --><p class=\"main\">' || "
        "replace(replace(text, '&', '&amp;'), '<', '&lt;') || "
        "'</p><a href=\"https://example.com/' || CAST(doc_id AS VARCHAR) || "
        "'\">link</a></body></html>'"
    )
    return f"""
WITH p AS (
  SELECT doc_id, {page} AS page,
         'd' || CAST(doc_id AS VARCHAR) || ' '
            || trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))
            || ' link' AS expected
  FROM documents
)
SELECT doc_id,
       sha256({html_to_text_sql('page')}) AS extracted_sha,
       CAST(len(regexp_extract_all(page, '(?i)href=["''][^"'']*["'']')) AS BIGINT)
         AS n_links,
       {html_to_text_sql('page')} = expected AS round_trip
FROM p
"""


SQL_HTML_TEXT_EXTRACT = _html_extract_sql()


def q_trailing_hour_activity(spark, sf_dir):
    """RANGE-interval window frame — the time-based sibling of
    moving_avg's ROWS frame and the rate-limiting/burst-accounting shape
    (per-host crawl budgets at web scale): for every event, the same
    user's event count and exact value-cents sum over the trailing hour
    (inclusive). RANGE over unix microseconds makes the frame boundary
    integer-exact and tie-inclusive — all events at the same timestamp
    fall in or out of the frame TOGETHER, so the result is deterministic
    without a tiebreaker column (a ROWS frame would not be). One shuffle
    keyed by user_id; a mega-hot user is bounded by the frame width, not
    the partition (the window scans sorted runs, not O(n²))."""
    e = _tbl(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum("cents").over(w).alias("cents_trailing_1h"),
    )


SQL_TRAILING_HOUR_ACTIVITY = """
SELECT event_id, user_id,
       count(*) OVER w AS n_trailing_1h,
       CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) OVER w AS BIGINT)
         AS cents_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_supplier_diversity(spark, sf_dir):
    """TPC-H Q16 shape — the distinct-aggregate + NOT-IN pattern: how
    many DISTINCT suppliers serve each (brand, type) for small parts,
    excluding negative-balance suppliers. Physical points: the exclusion
    list is an aggregation-light dimension slice → broadcast LEFT ANTI
    against the fact (the NOT IN as an anti-join — equivalent here
    because neither key column is nullable in this schema; a nullable
    NOT-IN needs the null-aware variant); the part slice broadcasts with its
    size filter pushed to the scan; count(DISTINCT) plans as Spark's
    two-level aggregate — partial dedup on (group, suppkey) map-side,
    THEN the count — so the shuffle carries distinct pairs, not raw
    lineitem rows."""
    bad = (
        _tbl(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    parts = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand", "p_type")
    )
    li = _tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .select("p_brand", "p_type", "supplier_cnt")
    )


SQL_SUPPLIER_DIVERSITY = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 10
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
"""


def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape — the EXISTS + NOT-EXISTS fact self-join: for
    each supplier, count finished-order lineitems that shipped late
    (>60 days after the order date) where the order had at least one
    OTHER supplier (EXISTS) but no OTHER supplier shipped late
    (NOT EXISTS) — i.e. this supplier alone kept the order waiting.
    Physical points: the late flag is computed ONCE per lineitem by a
    single orderkey-equi join against the F-status orders slice, and
    the l1/l2/l3 roles are projections of that one flagged relation —
    all three join inputs hash-partition on l_orderkey, so the
    semi/anti joins are co-partitioned fact self-joins (AQE may
    broadcast at test scale; at 100 TB they stay sort-merge on the
    shared key, never a cross product). The suppkey inequality rides
    each join as a non-equi residual on the orderkey equi carry.
    The aggregate-rewrite alternative (per-order distinct-supplier /
    distinct-late-supplier counts) is one groupBy cheaper but loses the
    per-lineitem count semantics of the official query, so the
    semi/anti form is kept. No engine-side ORDER BY: the gate compare
    is order-insensitive and a global sort would add an exchange."""
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.timestamp_add("DAY", F.lit(60), F.col("o_orderdate"))
        ).alias("late"),
    )
    l1 = flagged.where(F.col("late")).select("l_orderkey", "l_suppkey")
    # EXISTS: any other supplier on the order (order status already
    # restricted by l1's keys; raw lineitem is the cheaper probe side)
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    # NOT EXISTS: any OTHER supplier late on the same order
    l3 = flagged.where(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = l1.join(
        l2,
        (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == l3.o3) & (F.col("l_suppkey") != l3.s3),
        "left_anti",
    )
    sup = _tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(sup), waiting.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .select("s_name", "numwait")
    )


SQL_WAITING_SUPPLIERS = """
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM flagged l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.late
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM flagged l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.late)
GROUP BY s_name
"""


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape — scalar aggregate subquery + NOT-EXISTS
    anti-join: per nation, count DORMANT rich customers — balance above
    the corpus-wide average positive balance, no order since
    2000-01-01 (the official query's "no orders in 7 years" intent;
    this corpus gives every customer SOME order, so the recency cutoff
    is what keeps the anti-join non-vacuous — 5/55/646 qualifying
    customers at sf0.001/0.01/0.1).
    Exactness contract: the "above average" predicate never touches a
    float — balances quantize to integer cents once, and
    bal*count > sum (all int64) replaces bal > sum/count, so the
    result cannot depend on division rounding or partial-sum order in
    either engine. Physical points: the (sum, count) scalar is a
    one-row broadcast (BroadcastNestedLoopJoin on a 1-row build side is
    the correct plan, not a hazard); the recency filter is pushed to
    the orders scan BEFORE the LEFT ANTI, which joins on the custkey
    column only — at web scale a co-partitioned big-big anti join; the
    nation name resolves via a broadcast dim join after the aggregate
    (25 rows, never before the fact join)."""
    cust = _tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100.0, 0).cast("long").alias("bal_c"),
    )
    pos = (
        cust.where(F.col("bal_c") > 0)
        .agg(
            F.sum("bal_c").alias("pos_sum"),
            F.count(F.lit(1)).alias("pos_n"),
        )
    )
    rich = cust.join(F.broadcast(pos)).where(
        F.col("bal_c") * F.col("pos_n") > F.col("pos_sum")
    )
    ords = (
        _tbl(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    idle = rich.join(ords, rich.c_custkey == ords.o_custkey, "left_anti")
    nat = _tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_c").alias("total_bal_cents"),
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .select("n_name", "numcust", "total_bal_cents")
    )


SQL_IDLE_RICH_CUSTOMERS = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS bal_c
  FROM customer
), t AS (
  SELECT CAST(sum(bal_c) AS BIGINT) AS pos_sum,
         CAST(count(*) AS BIGINT) AS pos_n
  FROM c WHERE bal_c > 0
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
FROM c CROSS JOIN t
JOIN nation ON n_nationkey = c_nationkey
WHERE bal_c * pos_n > pos_sum
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
"""


def q_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape — the pure scan-efficiency probe: one filtered
    aggregate, NO joins. All three predicates (ship year, discount
    band, quantity cap) must reach the parquet scan as pushed filters
    (pinned by test); revenue = exact integer cents x basis points,
    one division at the end. At 100 TB this query IS the scan: row
    groups outside the date band never decompress."""
    li = _tbl(spark, sf_dir, "lineitem")
    pc = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    db = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(pc * db).alias("s"))
        .select(_r6(F.coalesce(F.col("s"), F.lit(0)) / 10000.0).alias("revenue"))
    )


SQL_REVENUE_FORECAST = """
SELECT round(coalesce(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                          * CAST(round(l_discount * 100.0, 0) AS BIGINT)), 0)
             / 10000.0, 6) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape — national market share: of the PROMO-part
    revenue sold to EUROPE customers in 1996-1997, the share supplied
    by NATION_3, per order year. Physical: part slice and the
    region-filtered customer-nation dim broadcast; lineitem ⋈ orders is
    the one fact-fact join; the share is a conditional integer sum over
    the same rows (numerator rides the denominator's aggregate — no
    second pass), divided once."""
    part = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nat = _tbl(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    cust = (
        _tbl(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat.where(F.col("n_regionkey") == 3)),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
            * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
        ).alias("rev_bp"),
    )
    sup = _tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("s_nationkey") == 3, F.col("rev_bp")).otherwise(
                    0
                )
            ).alias("nat_bp"),
            F.sum("rev_bp").alias("all_bp"),
        )
        .select(
            "o_year",
            _r6(F.col("nat_bp") / F.col("all_bp")).alias("mkt_share"),
        )
    )


SQL_MARKET_SHARE = """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         s_nationkey,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)) AS rev_bp
  FROM lineitem
  JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey AND n_regionkey = 3
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN s_nationkey = 3 THEN rev_bp ELSE 0 END)
                  AS DOUBLE) / sum(rev_bp), 6) AS mkt_share
FROM j GROUP BY o_year
"""


def q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape — returned-item revenue ranking: top 20
    customers by revenue lost to returns in a quarter. The classic
    fact→dim rollup + top-k: lineitem filters on the return flag,
    orders on the quarter (both pushed), the join result aggregates per
    customer and TakeOrderedAndProject keeps 20 — never a global sort.
    Tie-broken by custkey so the limit is deterministic."""
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
                * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
            ).alias("rev_bp"),
        )
    )
    cust = _tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_bp").alias("rev_bp"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            _r6(F.col("rev_bp") / 10000.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_CUSTOMERS = """
SELECT c_custkey, c_name,
       round(CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
                  AS DOUBLE) / 10000.0, 6) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_order_count_histogram(spark, sf_dir):
    """TPC-H Q13 shape — the customer-distribution pattern built on a
    LEFT OUTER join with the filter in the JOIN CONDITION (not a WHERE,
    which would silently drop zero-order customers): per customer count
    the non-urgent orders, then histogram the counts. The zero bucket
    is the semantic point and the reason this cannot be an inner
    join."""
    cust = _tbl(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _tbl(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select("c_count", "custdist")
    )


SQL_ORDER_COUNT_HISTOGRAM = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                  AND o_orderpriority != '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
"""


def q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape — promotional revenue share for one ship month:
    conditional aggregation over the part-joined fact (numerator and
    denominator in ONE pass), part dim broadcast, date window pushed to
    the lineitem scan, exact integer basis points divided once."""
    part = _tbl(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(
            "l_partkey",
            (
                F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
                * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
            ).alias("rev_bp"),
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("rev_bp")).otherwise(
                    0
                )
            ).alias("promo_bp"),
            F.sum("rev_bp").alias("all_bp"),
        )
        .select(
            _r6(100.0 * F.col("promo_bp") / F.col("all_bp")).alias(
                "promo_share_pct"
            )
        )
    )


SQL_PROMO_REVENUE_SHARE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_bp ELSE 0 END)
             / sum(rev_bp), 6) AS promo_share_pct
FROM (
  SELECT p_type,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)) AS rev_bp
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00')
"""


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape — the argmax-by-scalar-subquery pattern:
    quarterly revenue per supplier, keep the supplier(s) EQUAL to the
    global maximum. The per-supplier aggregate computes once and is
    reused by both the scalar max (1-row broadcast — the documented
    scalar-agg plan shape) and the equality filter; exact integer
    comparison, so ties surface instead of drifting."""
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            (
                F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
                * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
            ).alias("rev_bp"),
        )
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("rev_bp").alias("rev_bp"))
    mx = per_supp.agg(F.max("rev_bp").alias("mx"))
    sup = _tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .where(F.col("rev_bp") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            _r6(F.col("rev_bp") / 10000.0).alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
              AS BIGINT) AS rev_bp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       round(CAST(rev_bp AS DOUBLE) / 10000.0, 6) AS total_revenue
FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_bp = (SELECT max(rev_bp) FROM per_supp)
"""


def q_bracket_revenue(spark, sf_dir):
    """TPC-H Q19 shape — disjunctive bracket predicates: revenue from
    three OR'd (brand, size range, quantity range) brackets. The
    physical point: the join stays a plain broadcast equi-join on
    partkey; the disjunction is a post-join residual, and the
    OR-of-ranges over p_size/p_brand still prunes the part build side
    via the derived superset filter (size <= 15 covers all brackets,
    pushed to the part scan)."""
    part = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_size") <= 15)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
            * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
        ).alias("rev_bp"),
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#13")
        & (F.col("p_size") <= 5)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#20")
        & (F.col("p_size") <= 10)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size") <= 15)
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    return j.where(b1 | b2 | b3).agg(
        F.count(F.lit(1)).alias("n_lines"),
        _r6(F.coalesce(F.sum("rev_bp"), F.lit(0)) / 10000.0).alias(
            "revenue"
        ),
    )


SQL_BRACKET_REVENUE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       round(coalesce(sum(rev_bp), 0) / 10000.0, 6) AS revenue
FROM (
  SELECT p_brand, p_size, l_quantity,
         CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)) AS rev_bp
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_size <= 15)
WHERE (p_brand = 'Brand#13' AND p_size <= 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#20' AND p_size <= 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size <= 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_nation_trade_volume(spark, sf_dir):
    """TPC-H Q7 shape — two-nation trade volume: revenue shipped
    between NATION_1 suppliers and NATION_2 customers (either
    direction) by supplier nation, customer nation and ship year.
    Physical points: the symmetric pair predicate is NOT an OR-join —
    both dims pre-filter to the two nations (pushed to their scans,
    shrinking the broadcast builds), the joins stay pure equi
    (BroadcastHashJoin on suppkey/custkey), and the cross condition
    (s_nationkey != c_nationkey) rides as a cheap post-join filter.
    The one fact-fact join (lineitem ⋈ orders on orderkey) carries the
    ship-date window pushed to the lineitem scan. Revenue is exact
    integer basis points (price cents × (100 − discount bp)), divided
    once at the end — partition-order-proof."""
    n1, n2 = 3, 8
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    sup = (
        _tbl(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(n1, n2))
        .select("s_suppkey", "s_nationkey")
    )
    cust = (
        _tbl(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(n1, n2))
        .select("c_custkey", "c_nationkey")
    )
    orders = _tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select(
            "l_orderkey",
            "l_suppkey",
            "l_shipdate",
            (
                F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
                * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
            ).alias("rev_bp"),
        )
    )
    nat = _tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
    )
    return (
        j.join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("s_nationkey"),
                                   F.col("n_name").alias("supp_nation"))),
            "s_nationkey",
        )
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("c_nationkey"),
                                   F.col("n_name").alias("cust_nation"))),
            "c_nationkey",
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum("rev_bp").alias("rev_bp_sum"))
        .select(
            "supp_nation",
            "cust_nation",
            "ship_year",
            _r6(F.col("rev_bp_sum") / 10000.0).alias("revenue"),
        )
    )


SQL_NATION_TRADE_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       round(CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
                  AS DOUBLE) / 10000.0, 6) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
WHERE s_nationkey IN (3, 8) AND c_nationkey IN (3, 8)
  AND s_nationkey != c_nationkey
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


PRED_LEARN_ROUNDS = 3


def _learn_predicate_columns() -> dict:
    """Candidate blocking predicates for the greedy cover — each a pure
    expression both engines derive identically (the SQL twin re-states
    every one verbatim)."""
    tok1 = F.split(F.trim(F.col("text")), "[ \t\n\r]+")[0]
    return {
        "lang": F.col("lang"),
        "len64": F.floor(F.col("n_chars") / 64).cast("long").cast("string"),
        "prefix8": F.substring(F.trim(F.col("text")), 1, 8),
        "src": F.col("source"),
        "tok1": tok1,
    }


def q_predicate_learning(spark, sf_dir):
    """Blocking-key LEARNING — the reference's signature training step
    (dedupe's greedy predicate cover; re-expressed distributed in
    training.select_predicates / predicate_cover): given labeled
    positive pairs, repeatedly pick the blocking predicate that covers
    the most still-uncovered positives. Positives here are the
    winnowing shared-span pairs (an independent discovery channel, so
    the cover is non-trivial); candidates are five cheap key
    predicates. Three unrolled greedy rounds, ties broken by predicate
    name; output (round, predicate, newly_covered).

    Scale: the per-predicate coverage relation is |positives| × |preds|
    bounded (predicate_cover blocks the corpus distributed, then
    left-semi-joins the positive pairs — corpus-scale work is one
    block-key shuffle); each greedy round collects ONE row (the argmax
    predicate — the k-means/BPE driver idiom) and anti-joins the
    covered pairs. The SQL twin re-derives positives, coverage and all
    rounds including the tie order."""
    from .training import predicate_cover

    docs = _docs(spark, sf_dir)
    positives = q_winnow_span_pairs(spark, sf_dir).select("id1", "id2")
    cov = predicate_cover(
        docs, positives, "doc_id", _learn_predicate_columns()
    ).localCheckpoint(eager=True)
    rem = cov
    out = []
    for r in range(1, PRED_LEARN_ROUNDS + 1):
        top = (
            rem.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("pred"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pred, n = top[0]["pred"], top[0]["n"]
        out.append((r, pred, n))
        done = rem.where(F.col("pred") == pred).select("id1", "id2")
        rem = (
            rem.where(F.col("pred") != pred)
            .join(done, ["id1", "id2"], "left_anti")
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        out, "round int, predicate string, newly_covered long"
    )


def _predicate_learning_sql(rounds: int = PRED_LEARN_ROUNDS) -> str:
    """DuckDB twin: winnow positives + the five predicate key relations
    + per-round argmax/anti-join, unrolled (the BPE idiom)."""
    # local import dodges a circular-definition ordering issue: the
    # winnow SQL constant is defined later in this module
    parts = [
        """
, blocks AS MATERIALIZED (
  SELECT * FROM (
    SELECT 'lang' AS pred, doc_id AS record_id, 'lang:' || lang AS bk
    FROM documents
    UNION ALL
    SELECT 'len64', doc_id, 'len64:' || CAST(n_chars // 64 AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'prefix8', doc_id, 'prefix8:' || substr(trim(text), 1, 8)
    FROM documents
    UNION ALL
    SELECT 'src', doc_id, 'src:' || source FROM documents
    UNION ALL
    SELECT 'tok1', doc_id,
           'tok1:' || regexp_split_to_array(trim(text), '[ \\t\\n\\r]+')[1]
    FROM documents
  ) WHERE bk IS NOT NULL
      AND bk != pred || ':' AND bk != pred || ':N/A'
), cov AS MATERIALIZED (
  SELECT DISTINCT bl.pred, p.id1, p.id2
  FROM pos p
  JOIN blocks bl ON bl.record_id = p.id1
  JOIN blocks br ON br.record_id = p.id2
   AND br.pred = bl.pred AND br.bk = bl.bk
), rem0 AS MATERIALIZED (SELECT * FROM cov)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
, p{r} AS MATERIALIZED (
  SELECT pred, CAST(count(*) AS BIGINT) AS n
  FROM rem{p} GROUP BY pred ORDER BY n DESC, pred ASC LIMIT 1
), rem{r} AS MATERIALIZED (
  SELECT * FROM rem{p} o
  WHERE o.pred NOT IN (SELECT pred FROM p{r})
    AND NOT EXISTS (
      SELECT 1 FROM rem{p} d
      WHERE d.pred IN (SELECT pred FROM p{r})
        AND d.id1 = o.id1 AND d.id2 = o.id2)
)""")
    tail = (
        "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(
            f"SELECT CAST({r} AS INT) AS round, pred AS predicate,"
            f" n AS newly_covered FROM p{r}"
            for r in range(1, rounds + 1)
        )
        + "\n)"
    )
    return (
        "WITH pos AS MATERIALIZED (SELECT id1, id2 FROM (__WINNOW__))"
        + "".join(parts)
        + tail
    )


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) over
    the documents corpus: the first 6 merge rules with their pair
    counts. The corpus is scanned once (word-frequency groupBy); all six
    merge rounds run on the vocabulary-bounded word relation — see
    operators/bpe.py for the scale story and the per-round
    collect-one-scalar/k-means-idiom justification."""
    from .operators.bpe import train_bpe

    return train_bpe(_docs(spark, sf_dir))


def _bpe_sql(n_merges: int = 6, max_word_len: int = 64) -> str:
    """Unrolled-round DuckDB twin (the pagerank idiom): each round's
    pair-count, argmax and list_reduce merge are re-derived in SQL; the
    WHERE pc >= 2 guard mirrors the trainer's early stop (valid while
    merges remain available, which every gate corpus satisfies)."""

    def round_ctes(r: int) -> str:
        prev = f"w{r - 1}"
        return f"""
p{r} AS (
  SELECT p[1] AS a, p[2] AS b, CAST(sum(cnt) AS BIGINT) AS pc
  FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)), i -> [sy[i], sy[i+1]])) AS p
    FROM (SELECT string_split(syms, chr(31)) AS sy, cnt FROM {prev})
    WHERE len(sy) >= 2
  ) GROUP BY 1, 2
), b{r} AS (
  SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a ASC, b ASC LIMIT 1
), w{r} AS (
  SELECT list_reduce(string_split(syms, chr(31)),
    (acc, x) -> CASE WHEN (acc = bb.a OR ends_with(acc, chr(31) || bb.a)) AND x = bb.b
                     THEN substr(acc, 1, len(acc) - len(bb.a)) || bb.a || bb.b
                     ELSE acc || chr(31) || x END) AS syms, cnt
  FROM {prev} CROSS JOIN b{r} bb
)"""

    head = f"""
WITH w0 AS (
  SELECT list_aggregate(list_transform(range(1, len(word)+1), i -> substr(word, i, 1)),
                        'string_agg', chr(31)) AS syms,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_filter(
      regexp_split_to_array(trim(lower(coalesce(text, ''))), '[ \\t\\n\\r]+'),
      t -> t != '' AND len(t) <= {max_word_len} AND strpos(t, chr(31)) = 0)) AS word
    FROM documents)
  GROUP BY word
),"""
    tail = " UNION ALL ".join(
        f"SELECT {r} AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, pc AS pair_count FROM b{r} WHERE pc >= 2"
        for r in range(1, n_merges + 1)
    )
    return head + ",".join(round_ctes(r) for r in range(1, n_merges + 1)) + "\n" + tail


SQL_BPE_MERGES = _bpe_sql()


# Fixed merge vocabulary for the ENCODE query: applied in rank order.
# ("t","h") then ("th","e") deliberately includes a compound rule whose
# left symbol is itself a merged token — the fold must be length-aware.
_BPE_ENCODE_MERGES = [
    ("e", "r"),
    ("i", "n"),
    ("o", "r"),
    ("s", "t"),
    ("t", "h"),
    ("th", "e"),
]


def q_bpe_encode(spark, sf_dir):
    """The APPLY side of the tokenizer (operators/bpe.encode_tokens):
    corpus token histogram under a fixed merge list. One corpus-scale
    word-count pass; all merge folds run on the vocabulary-bounded
    distinct-word relation as a single declarative plan (no driver
    loop). The oracle re-derives every fold with DuckDB list_reduce —
    including the compound ("th","e") rule over the ("t","h") output."""
    from .operators.bpe import encode_tokens

    return encode_tokens(_docs(spark, sf_dir), _BPE_ENCODE_MERGES)


def _sql_bpe_encode(max_word_len: int = 64) -> str:
    def esc(s: str) -> str:
        return s.replace("'", "''")

    ctes = []
    for r, (a, b) in enumerate(_BPE_ENCODE_MERGES, start=1):
        prev = f"w{r - 1}"
        ea, eb = esc(a), esc(b)
        ctes.append(f"""
w{r} AS (
  SELECT list_reduce(string_split(syms, chr(31)),
    (acc, x) -> CASE WHEN (acc = '{ea}' OR ends_with(acc, chr(31) || '{ea}'))
                      AND x = '{eb}'
                     THEN substr(acc, 1, len(acc) - {len(a)}) || '{ea}{eb}'
                     ELSE acc || chr(31) || x END) AS syms, cnt
  FROM {prev}
)""")
    n = len(_BPE_ENCODE_MERGES)
    return f"""
WITH w0 AS (
  SELECT list_aggregate(list_transform(range(1, len(word)+1), i -> substr(word, i, 1)),
                        'string_agg', chr(31)) AS syms,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_filter(
      regexp_split_to_array(trim(lower(coalesce(text, ''))), '[ \\t\\n\\r]+'),
      t -> t != '' AND len(t) <= {max_word_len} AND strpos(t, chr(31)) = 0)) AS word
    FROM documents)
  GROUP BY word
),{",".join(ctes)}
SELECT tok AS token, CAST(sum(cnt) AS BIGINT) AS tok_count
FROM (SELECT unnest(string_split(syms, chr(31))) AS tok, cnt FROM w{n})
GROUP BY 1
"""


SQL_BPE_ENCODE = _sql_bpe_encode()


def q_json_extract_stats(spark, sf_dir):
    """Semi-structured path: extract a typed field from the events JSON
    props column and aggregate per event_type — JVM-side get_json_object
    (whole-stage codegen, no Python), never a UDF. The shape of every
    crawl-metadata / API-log ingest at scale: parse lazily AT the
    aggregation, don't materialize a parsed copy of the corpus."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON_EXTRACT_STATS = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       min(k) AS min_k, max(k) AS max_k
FROM e GROUP BY event_type
"""


def q_moving_avg(spark, sf_dir):
    """Per-user trailing 3-event moving average of the value column.
    Exactness contract: values quantized to integer cents BEFORE the
    frame sum (float frame-sum order is engine-internal; int64 is not),
    divided once per row. Frame = 2 PRECEDING..CURRENT ROW over the
    total order (ts, event_id)."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    e2 = e.withColumn("__cents", cents)
    cnt = F.count("__cents").over(w)
    # guard: all-null frame would divide by zero (ANSI error in Spark 4)
    mov = F.when(cnt > 0, F.sum("__cents").over(w) / (100.0 * cnt))
    return e2.select(
        "event_id", "user_id", _r6(mov).alias("mov_avg_3")
    )


SQL_MOVING_AVG = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100.0, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       round(CASE WHEN count(cents) OVER w > 0
                  THEN sum(cents) OVER w / (100.0 * count(cents) OVER w)
             END, 6) AS mov_avg_3
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


FUNNEL_STAGES = ("view", "click", "purchase")


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the product-analytics staple: users
    grouped by first-activity week (the cohort), counted in every later
    week they remain active, keyed as (cohort_week, week_offset). All
    integer week arithmetic from epoch microseconds (no date-truncation
    semantics to drift between engines); the plan is one per-user
    minimum (cohort assignment), one distinct (user, week) activity
    relation, and one join + groupBy — every shuffle on the user key
    until the final small matrix aggregate."""
    ev = _tbl(spark, sf_dir, "events")
    week = F.floor(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        / (7 * 86_400_000_000.0)
    ).cast("int")
    uw = ev.select("user_id", week.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("cohort_week", "week_offset", "n_users")
    )


SQL_COHORT_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor((epoch_us(ts)
                     - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                    / 604800000000.0) AS INT) AS week
  FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week,
       CAST(uw.week - c.cohort_week AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM uw JOIN cohort c ON uw.user_id = c.user_id
GROUP BY 1, 2
"""


DECAY_ANCHOR = "2024-01-31 00:00:00"


def q_decayed_activity(spark, sf_dir):
    """Half-life-decayed engagement score per user — the freshness-
    weighted counter every ranking/triage pipeline keeps, made
    partition-order-proof by INTEGER arithmetic: a day-old cent counts
    half, implemented as cents >> days_old (bit shift), so the score is
    an exact int64 sum — no pow(), no float decay factor, no
    order-dependent rounding. days_old is exact integer microsecond
    arithmetic against a fixed anchor (a literal, not a max(ts) scalar:
    no extra pass, no 1-row broadcast). One user-keyed aggregate,
    map-side combinable."""
    ev = _tbl(spark, sf_dir, "events")
    anchor_us = F.unix_micros(F.lit(DECAY_ANCHOR).cast("timestamp"))
    days_old = F.floor(
        (anchor_us - F.unix_micros(F.col("ts").cast("timestamp")))
        / 86_400_000_000.0
    ).cast("int")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    return (
        ev.select(
            "user_id",
            cents.alias("cents"),
            F.greatest(days_old, F.lit(0)).alias("d"),
        )
        # the Python API only takes a literal shift; the SQL form takes
        # a per-row column
        .select("user_id", F.expr("shiftright(cents, d)").alias("w"))
        .groupBy("user_id")
        .agg(
            F.sum("w").alias("decayed_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "decayed_cents", "n_events")
    )


SQL_DECAYED_ACTIVITY = f"""
SELECT user_id,
       CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)
                >> greatest(CAST(floor(
                     (epoch_us(TIMESTAMP '{DECAY_ANCHOR}') - epoch_us(ts))
                     / 86400000000.0) AS INT), 0)) AS BIGINT)
         AS decayed_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


def q_value_trend(spark, sf_dir):
    """Per-group OLS trend as exact integer sufficient statistics —
    regression without a single float until the final division: per
    event_type, the least-squares slope of value (cents) against time
    (hours since the corpus epoch) from the four classic sums
    (n, Σx, Σy, Σxy, Σx²), all int64 (headroom documented: at ~3e6
    rows/group the nΣxy product approaches int64 range — DECIMAL(38)
    sums are the beyond-that choice). Slope emitted both as the exact
    integer numerator/denominator pair AND the rounded double —
    the rational form is the engine-portability proof. One map-side
    combinable aggregate."""
    ev = _tbl(spark, sf_dir, "events")
    x = F.floor(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        / 3_600_000_000.0
    ).cast("long")
    y = F.round(F.col("value") * 100.0, 0).cast("long")
    g = (
        ev.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return g.select(
        "event_type",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        _r6(num / den).alias("slope_cents_per_hour"),
    )


SQL_VALUE_TREND = """
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM (
    SELECT event_type,
           CAST(floor((epoch_us(ts)
                       - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                      / 3600000000.0) AS BIGINT) AS x,
           CAST(round(value * 100.0, 0) AS BIGINT) AS y
    FROM events)
  GROUP BY event_type
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx), 6) AS slope_cents_per_hour
FROM g
"""


def q_session_funnel(spark, sf_dir):
    """Ordered-sequence funnel over the event log: how many users
    VIEWED, then CLICKED strictly after their first view, then
    PURCHASED strictly after that click — the product-analytics
    conversion funnel, expressed as a chain of per-user first-event
    aggregations (stage k+1's events join stage k's anchor timestamp
    and keep only later ones, then take the per-user minimum). Strict
    '>' at every hop pins tie semantics; everything is a user-keyed
    groupBy/join — the shuffles all share the user_id key, so at scale
    they co-partition and AQE can collapse the small stage anchors to
    broadcasts. Output: one row per funnel prefix with its user
    count."""
    ev = _tbl(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1, s2, s3 = FUNNEL_STAGES
    v = (
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == s2)
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == s3)
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        (1, s1, v),
        (2, f"{s1}>{s2}", c),
        (3, f"{s1}>{s2}>{s3}", p),
    ]
    out = None
    for stage, name, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("funnel"),
            "n_users",
        )
        out = one if out is None else out.union(one)
    return out


SQL_SESSION_FUNNEL = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS stage, '{FUNNEL_STAGES[0]}' AS funnel,
       CAST(count(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 2, '{FUNNEL_STAGES[0]}>{FUNNEL_STAGES[1]}',
       CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 3, '{FUNNEL_STAGES[0]}>{FUNNEL_STAGES[1]}>{FUNNEL_STAGES[2]}',
       CAST(count(*) AS BIGINT) FROM p
"""


COOC_MIN_JOINT = 5  # emit pairs co-occurring in >= this many docs


def q_token_cooccurrence(spark, sf_dir):
    """Market-basket token co-occurrence with lift — the association
    signal (boilerplate phrase mining, template detection) over the
    document corpus: for every pair of distinct tokens sharing >= 5
    documents, the joint document count, each token's document
    frequency, and lift = N·joint/(df1·df2). NO self-join: each doc's
    sorted distinct-token array expands to its within-doc pairs by a
    nested higher-order transform (JVM-side), so the only shuffle is
    the pair-key groupBy — the per-doc expansion is bounded by the
    distinct-token count (at web scale one would first vocab-filter the
    arrays against a broadcast top-K list; this corpus's vocabulary is
    already bounded). Lift divides exact int64 counts once; the 1-row
    corpus-size scalar broadcasts (the documented scalar-agg plan
    shape)."""
    d = _docs(spark, sf_dir)
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                    "[ \t\n\r]+",
                ),
                lambda t: t != "",
            )
        )
    )
    dt = d.select("doc_id", toks.alias("toks"))
    pairs = dt.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("toks"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("toks"),
                            i + F.lit(2),
                            F.size(F.col("toks")),
                        ),
                        lambda y: F.struct(
                            x.alias("t1"), y.alias("t2")
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    joint = (
        pairs.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("joint"))
        .where(F.col("joint") >= COOC_MIN_JOINT)
    )
    df_tok = dt.select("doc_id", F.explode("toks").alias("t")).groupBy(
        "t"
    ).agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        joint.join(
            df_tok.select(F.col("t").alias("t1"), F.col("df").alias("df1")),
            "t1",
        )
        .join(
            df_tok.select(F.col("t").alias("t2"), F.col("df").alias("df2")),
            "t2",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t1",
            "t2",
            "joint",
            "df1",
            "df2",
            _r6(
                F.col("joint") * F.col("n_docs")
                / (F.col("df1") * F.col("df2"))
            ).alias("lift"),
        )
    )


SQL_TOKEN_COOCCURRENCE = f"""
WITH dt AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(
           regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                 '[ \\t\\n\\r]+'),
           t -> t != ''))) AS toks
  FROM documents
), pairs AS (
  SELECT doc_id, p[1] AS t1, p[2] AS t2
  FROM (
    SELECT doc_id,
           unnest(flatten(list_transform(toks,
             (x, i) -> list_transform(toks[i+1:], y -> [x, y])))) AS p
    FROM dt)
), joint AS (
  SELECT t1, t2, CAST(count(*) AS BIGINT) AS joint
  FROM pairs GROUP BY t1, t2 HAVING count(*) >= {COOC_MIN_JOINT}
), dfreq AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(toks) AS t FROM dt) GROUP BY t
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT j.t1, j.t2, j.joint, d1.df AS df1, d2.df AS df2,
       round(CAST(j.joint * n.n_docs AS DOUBLE) / (d1.df * d2.df), 6)
         AS lift
FROM joint j
JOIN dfreq d1 ON d1.t = j.t1
JOIN dfreq d2 ON d2.t = j.t2
CROSS JOIN n
"""


def q_rollup_stats(spark, sf_dir):
    """Multi-dimensional rollup: corpus stats at (lang, source), (lang)
    and grand-total grain in ONE pass — Spark plans rollup as a single
    Expand + one aggregation (each input row contributes to every grain
    map-side), not one job per grain. gid disambiguates subtotal rows
    from genuine NULL dimension values (both engines use the same
    most-significant-first bitmask)."""
    d = _docs(spark, sf_dir)
    return (
        d.rollup("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


SQL_ROLLUP_STATS = """
SELECT lang, source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP (lang, source)
"""


def q_cube_stats(spark, sf_dir):
    """CUBE completes the grouping-grain family (rollup_stats walks the
    hierarchy, hll_rollup picks explicit GROUPING SETS): all FOUR
    grains of (lang, source) — including the rollup-unreachable
    (source)-only subtotal — in ONE pass, one Expand + one aggregation,
    never a job per grain. Same gid bitmask contract as rollup_stats."""
    d = _docs(spark, sf_dir)
    return (
        d.cube("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "sum_chars")
    )


SQL_CUBE_STATS = """
SELECT lang, source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS gid,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE (lang, source)
"""


def q_quality_percentile(spark, sf_dir):
    """Within-language quality percentiles — the relative-rank filter a
    per-domain curation pass uses ("keep the top X% of each language"):
    percent_rank and cume_dist over the exact integer quality proxy
    (n_chars), totally ordered by (n_chars, doc_id) so ties cannot
    reorder between engines. One lang-keyed window shuffle; the rank
    divisions are single exact-int divides, rounded once."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        _r6(F.percent_rank().over(w)).alias("pct_rank"),
        _r6(F.cume_dist().over(w)).alias("cume"),
    )


SQL_QUALITY_PERCENTILE = """
SELECT doc_id, lang, n_chars,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
"""


N_SHARDS = 16


def q_even_shards(spark, sf_dir):
    """Balanced output sharding for training-data writes: ntile over
    the md5 order assigns every document to one of N_SHARDS
    near-equal-size shards, deterministically and independent of the
    corpus's physical layout (the md5 order is the same shuffle-proof
    device as hash_split, but ntile guarantees BALANCE — |shard sizes|
    differ by at most 1 — where a pure hash threshold only balances in
    expectation). Output is the shard manifest: per-shard row count
    and exact char sum. The global ntile needs a total order — a
    single-partition sort at gate scale; at 100 TB the production
    equivalent is rank-by-range via repartitionByRange on the md5 key
    (documented trade; the manifest contract is identical)."""
    d = _docs(spark, sf_dir)
    w = Window.orderBy(
        F.md5(F.col("doc_id").cast("string")),
        F.col("doc_id").cast("string"),
    )
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.ntile(N_SHARDS).over(w).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("shard", "n_docs", "sum_chars")
    )


SQL_EVEN_SHARDS = f"""
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT doc_id, n_chars,
         ntile({N_SHARDS}) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                    CAST(doc_id AS VARCHAR) ASC) AS shard
  FROM documents)
GROUP BY shard
"""


_PIVOT_LANGS = ("de", "en", "es", "fr", "zh")


def q_lang_pivot(spark, sf_dir):
    """Pivot/crosstab: per-source document counts spread across one
    column per language. The values list is EXPLICIT — an inferred
    pivot (`pivot(col)` with no values) runs a distinct-scan job just
    to learn the schema and produces nondeterministic column sets on
    drifting data; fixed values keep the plan one pass and the schema
    stable. Absent combinations are 0, not null, matching the SQL
    twin's conditional-sum form."""
    d = _docs(spark, sf_dir)
    out = (
        d.groupBy("source")
        .pivot("lang", list(_PIVOT_LANGS))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_PIVOT_LANGS))
    )
    return out.select(
        "source", *[F.col(c).cast("long").alias(c) for c in _PIVOT_LANGS]
    )


SQL_LANG_PIVOT = (
    "SELECT source,\n"
    + ",\n".join(
        f"       CAST(sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS {c}"
        for c in _PIVOT_LANGS
    )
    + "\nFROM documents GROUP BY source"
)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (operators/
    sampling.py, Efraimidis–Spirakis A-ES): 50 docs drawn proportional
    to n_chars via md5-rational uniforms and the ln(u)/w key — top-k
    selection (per-partition heaps, no global sort, no RNG), identical
    across reruns, partitionings and the DuckDB twin. The
    length-weighted eval-slice sampler of a training-data pipeline."""
    from .operators.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", k=50
    )


def _sql_weighted_sample() -> str:
    from .operators.sampling import weighted_sample_sql

    return weighted_sample_sql("documents", "doc_id", "n_chars", k=50)


SQL_WEIGHTED_SAMPLE = _sql_weighted_sample()


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly k=5 docs per (lang,
    source) stratum, chosen by md5 rank — reproducible across engines,
    reruns and partitionings (no RNG, no sample() nondeterminism), and
    skew-safe because it reuses grouped_topk's two-phase salted windows.
    The eval-set / human-audit sampler a 100 TB pipeline needs."""
    from .operators.topk import grouped_topk

    d = _docs(spark, sf_dir).withColumn(
        "__r", F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("strat")))
    )
    out = grouped_topk(
        d,
        ["lang", "source"],
        [F.col("__r").asc(), F.col("doc_id").asc()],
        5,
        salt_src="doc_id",
    )
    return out.select("lang", "source", "doc_id", "rnk")


SQL_STRATIFIED_SAMPLE = """
SELECT lang, source, doc_id, rnk FROM (
  SELECT lang, source, doc_id,
         CAST(row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|strat') ASC, doc_id ASC
         ) AS INT) AS rnk
  FROM documents
) WHERE rnk <= 5
"""


_QUANTILE_PS = (0.25, 0.5, 0.75, 0.95)
_QUANTILE_NAMES = ("p25", "p50", "p75", "p95")


def q_grouped_quantiles(spark, sf_dir):
    """Exact per-lang n_chars quantiles (operators/quantiles.py): computed
    from the distinct-value count relation (map-side combinable) + a
    cumulative sum whose window input is distinct values, not rows — the
    scale-safe exact alternative to percentile_approx (not reproducible)
    or a per-group row sort (hot-group serialization). Definition pinned:
    lower discrete quantile at rank ceil(p·N); the oracle re-derives it
    verbatim rather than trusting the vendor's quantile_disc."""
    from .operators.quantiles import grouped_quantiles_exact

    return grouped_quantiles_exact(
        _docs(spark, sf_dir), ["lang"], "n_chars", _QUANTILE_PS, _QUANTILE_NAMES
    )


def _sql_grouped_quantiles() -> str:
    from .operators.quantiles import grouped_quantiles_sql

    return grouped_quantiles_sql(
        "documents", "lang", "n_chars", _QUANTILE_PS, _QUANTILE_NAMES
    )


SQL_GROUPED_QUANTILES = _sql_grouped_quantiles()


def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile SKETCH: per-lang n_chars quantiles estimated
    from a bottom-64-by-md5 uniform sample (operators/sketches.
    kmv_sample) instead of the exact distinct-value relation. The
    companion trade to `grouped_quantiles`: exact shuffles one row per
    distinct (group, value); the sketch caps state at k rows per group
    regardless of cardinality and merges across shards by re-bottom-k.
    Estimation is the SAME pinned lower-discrete rank rule applied to
    the sample, so the DuckDB twin re-derives sample AND estimates
    exactly — the sketch is value-oracled like HLL/CMS/Bloom."""
    from .operators.quantiles import grouped_quantiles_exact
    from .operators.sketches import kmv_sample

    s = kmv_sample(_docs(spark, sf_dir), ["lang"], "doc_id", 64)
    return grouped_quantiles_exact(
        s, ["lang"], "n_chars", _QUANTILE_PS, _QUANTILE_NAMES
    )


def _sql_quantile_sketch() -> str:
    from .operators.quantiles import grouped_quantiles_sql

    sample = """(
  SELECT lang, n_chars FROM (
    SELECT lang, n_chars,
           row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
    FROM documents) WHERE rn <= 64)"""
    return grouped_quantiles_sql(
        sample, "lang", "n_chars", _QUANTILE_PS, _QUANTILE_NAMES
    )


SQL_QUANTILE_SKETCH = _sql_quantile_sketch()


def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase matched to the user's
    latest error event at-or-before it. Spark lacks the operator; the
    union + co-partitioned last-known-value window costs one |L|+|R|
    exchange instead of the inequality join's per-key cross product.
    Ties pinned: at equal ts the error is visible to the purchase
    (at-or-before); among equal-ts errors the greatest event_id wins.
    Oracle re-derives the match as an explicit argmax over the
    inequality join (affordable at oracle scale, explosive at 100 TB —
    which is the point of the operator)."""
    from .operators.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    l = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    r = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        l, r, ["user_id"], "ts", ["event_id", "ts", "value"], "event_id",
        suffix="_err",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id_err").alias("err_event_id"),
        _r6(F.col("value_err")).alias("err_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_err")).alias("gap_us"),
    )


SQL_ASOF_JOIN = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error'
), hit AS (
  SELECT * FROM (
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           r.event_id AS err_event_id, round(r.value, 6) AS err_value,
           epoch_us(l.ts) - epoch_us(r.ts) AS gap_us,
           row_number() OVER (PARTITION BY l.event_id
                              ORDER BY r.ts DESC, r.event_id DESC) AS rn
    FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
  ) WHERE rn = 1
)
SELECT event_id, user_id, ts_us, err_event_id, err_value, gap_us FROM hit
UNION ALL
SELECT l.event_id, l.user_id, epoch_us(l.ts),
       NULL, NULL, NULL
FROM l
WHERE NOT EXISTS (
  SELECT 1 FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
)
"""


def q_er_clusters(spark, sf_dir):
    """Flagship entry (driver contract): the uninstrumented pipeline.

    Output is scalar-only — member ids serialized as a sorted comma-joined
    string (the same trick q_cluster_assembly uses) so the driver's
    canonicalizer can hash it; the array<struct> cluster shape stays
    available via operators.assemble.assemble_clusters. Full DuckDB value
    oracle: SQL_ER_CLUSTERS (_er_sql(minhash=True)).
    """
    return er_clusters_pipeline(spark, sf_dir)


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs verified by n-gram Jaccard >= 0.7."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    # prebuilt text lookup: one sizing scan + collect + broadcast for the
    # whole call (tracked — released at the next between-queries cleanup)
    lk = D.text_lookup(d, "doc_id", "text")
    if lk is not None:
        track(lk)
    return D.minhash_lsh_pairs(
        d, "doc_id", jaccard_threshold=0.7, verify_lookup=lk
    ).select("id1", "id2", _r6(F.col("jaccard")).alias("jaccard"))


def q_simhash_pairs(spark, sf_dir):
    """SimHash banded near-dup pairs at hamming <= 6, blocked on PAIRS of
    8-bit chunks (bands=8, min_shared=2): <= 6 corrupted chunks leave >= 2
    intact, so every within-threshold pair shares a 16-bit chunk-pair key
    — same exact recall as single-chunk banding, but bucket collision
    probability drops from 2^-9 to 2^-16 and the candidate set stays
    near-linear in corpus size (the single-chunk scheme went quadratic:
    114k candidates at 5k docs, ~13M at 54k)."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    return D.simhash_pairs(
        d, "doc_id", max_hamming=6, bands=8, min_shared=2
    ).select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))


def q_embedding_lsh_pairs(spark, sf_dir):
    """Random-hyperplane LSH near-dup embedding pairs, cosine >= 0.35
    (the synthetic embeddings top out at ~0.51 pairwise cosine; the
    threshold sits where real pairs exist so the check carries signal).
    The planes are md5-derived Rademacher signs (dedup.rademacher_planes),
    so SQL_EMBEDDING_LSH_PAIRS below re-derives the exact bucket
    assignment and the query is value-checked end-to-end."""
    e = _spread(
        _emb(spark, sf_dir).select(
            F.col("vec_id").cast("string").alias("vec_id"), "embedding"
        )
    )
    return D.embedding_cosine_pairs(e, "vec_id", threshold=0.35).select(
        "id1", "id2", _r6(F.col("cosine")).alias("cosine")
    )


# embedding_lsh_pairs oracle: re-derive the 16-plane Rademacher SRP sketch
# in SQL — plane weight (p, dim) = +1 iff first hex digit of
# md5('rp:p:dim') is odd (dedup.rademacher_planes), projection = per-plane
# dot product, band key = 4 MSB-first sign bits per 4-plane band — then the
# same capped bucket self-join (ids compared as VARCHAR, matching the
# engine's url-keyed model) and exact-cosine verification as the Spark
# plan. Assumes the fixed 64-dim embeddings of the testdata views.
SQL_EMBEDDING_LSH_PAIRS = """
WITH ev AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id,
         generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
), planes AS (
  SELECT p.p, i.i,
         CASE WHEN strpos('13579bdf',
                substr(md5('rp:' || CAST(p.p AS VARCHAR) || ':'
                           || CAST(i.i - 1 AS VARCHAR)), 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(16)) AS p) p,
       (SELECT unnest(range(1, 65)) AS i) i
), proj AS (
  SELECT e.vec_id, pl.p, sum(e.x * pl.w) AS s
  FROM ev e JOIN planes pl ON pl.i = e.i
  GROUP BY 1, 2
), band AS (
  SELECT vec_id, p // 4 AS band,
         sum(CASE WHEN s > 0 THEN 1 << (3 - (p % 4)) ELSE 0 END) AS key
  FROM proj GROUP BY 1, 2
), kept AS (
  SELECT b.* FROM band b
  JOIN (SELECT band, key FROM band GROUP BY 1, 2
        HAVING count(*) <= 2000) ok USING (band, key)
), cand AS (
  SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
  FROM kept l JOIN kept r
    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
), v AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x*x))) AS nrm
  FROM embeddings
)
SELECT id1, id2, round(cos, 6) AS cosine FROM (
  SELECT c.id1, c.id2,
         list_sum(list_transform(list_zip(a.e, b.e), z -> z[1]*z[2]))
           / (a.nrm * b.nrm) AS cos
  FROM cand c
  JOIN v a ON a.vec_id = c.id1
  JOIN v b ON b.vec_id = c.id2
) WHERE cos >= 0.35
"""


def q_ivf_topk(spark, sf_dir):
    """IVF approximate ANN: probe 4 of 8 cells for 5 fixed queries."""
    e = _emb(spark, sf_dir)
    cents = ANN.train_centroids(e, n_cells=8, sample=500)
    corpus = ANN.assign_cells(e, cents)
    queries = e.where(F.col("vec_id") < 5)
    out = ANN.ivf_topk(corpus, queries, cents, k=5, nprobe=4)
    return out.select("query_id", "id", _r6(F.col("cosine")).alias("cosine"), "rank")


def q_ivf_fixed_topk(spark, sf_dir):
    """IVF ANN through the same assign_cells + ivf_topk operators as
    q_ivf_topk, but with the coarse quantizer FROZEN: centroids are the 8
    corpus vectors with the smallest md5(vec_id) (ann.fixed_centroids) — a
    pure function of the data, so the DuckDB twin re-derives the exact
    cells, probe sets and top-k and the IVF chain (cell argmax → nprobe
    probe explode → cell join → rank window) is value-checked end to end.
    q_ivf_topk keeps the k-means quantizer (better recall on clustered
    corpora) with its exact-twin recall test."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids(e, n_cells=8)
    corpus = ANN.assign_cells(e, cents)
    queries = e.where(F.col("vec_id") < 5)
    out = ANN.ivf_topk(corpus, queries, cents, k=5, nprobe=4)
    return out.select(
        "query_id", "id", _r6(F.col("cosine")).alias("cosine"), "rank"
    )


# same chain re-derived: v = vectors+norms; cents = 8 smallest-md5 rows
# (cid = rank in md5 order); sim = all (vector, centroid) cosines — n*8
# rows, the oracle-side analog of the broadcast matmul; cells = argmax
# (ties -> lower cid, matching the kernel's first-max argmax); probes =
# top-4 cells per query (stable argsort = cid-asc tie-break); then the
# DISTINCT candidate join and the rank window exactly as _rank_topk
SQL_IVF_FIXED_TOPK = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x*x))) AS nrm
  FROM embeddings
), cents AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, e AS ce, nrm AS cnrm
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, e, nrm
        FROM v ORDER BY h LIMIT 8)
), sim AS (
  SELECT v.vec_id, c.cid,
         list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1]*z[2]))
           / (v.nrm * c.cnrm) AS cos
  FROM v, cents c
), cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM sim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM sim WHERE vec_id < 5) WHERE rn <= 4
), cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS id
  FROM probes p JOIN cells c ON c.cell = p.cell
  WHERE c.vec_id != p.query_id
), scored AS (
  SELECT cand.query_id, cand.id,
         list_sum(list_transform(list_zip(q.e, t.e), z -> z[1]*z[2]))
           / (q.nrm * t.nrm) AS cos
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v t ON t.vec_id = cand.id
)
SELECT query_id, id, round(cos, 6) AS cosine, rank FROM (
  SELECT query_id, id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, id ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou PAMI 2011): the corpus is encoded
    as 8 nearest-code indices over md5-fixed 16-code subspace codebooks
    (ann.fixed_pq_codebooks — a pure function of the data, same
    verifiability device as ivf_fixed_topk) and 5 fixed queries are
    answered by the JVM-only ADC scan over the codes table. Every float
    reduction on both engines is a sequential left fold over dim/subspace
    order (ann module docstring), so the DuckDB twin re-derives codebooks,
    codes, LUTs and the ranked top-k bit-for-bit. The trained-codebook
    path (ann.train_pq_codebooks) keeps a recall-vs-exact pytest
    assertion, mirroring the ivf_topk / ivf_fixed_topk split."""
    e = _emb(spark, sf_dir)
    books = ANN.fixed_pq_codebooks(e, m=8, ks=16)
    codes = ANN.pq_encode(e, books)
    queries = e.where(F.col("vec_id") < 5)
    out = ANN.pq_adc_topk(codes, queries, books, k=5)
    return out.select(
        "query_id", "id", _r6(F.col("adc_d2")).alias("adc_d2"), "rank"
    )


# same chain re-derived: u = unit vectors (left-fold norms); cb = the 16
# smallest-md5 rows (code index = md5 rank); vsub/cbsub = the 8-dim
# subspace slices; d2 = every (vector, subspace, code) squared distance
# with list_sum over the zip — the fold-order twin of the numpy dim loop;
# codes = per-(vector, subspace) argmin (ties -> lower code); the ADC
# distance joins the CORPUS row's code to the QUERY's d2 at that code and
# folds the 8 subspace terms in j order (list(... ORDER BY j) feeding
# list_sum = Spark's aggregate fold), then the rank window as in the IVF
# twin. Distances on unit vectors, rounded to 6 decimals in both engines.
SQL_PQ_ADC_TOPK = """
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), nr AS (
  SELECT vec_id, e,
         sqrt(greatest(list_sum(list_transform(e, x -> x*x)), 1e-24)) AS nrm
  FROM raw
), v AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM nr
), js AS (
  SELECT unnest(range(8)) AS j
), cb AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, u AS cu
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v ORDER BY h LIMIT 16)
), cbsub AS (
  SELECT js.j, cb.cid, cb.cu[(js.j*8+1):(js.j*8+8)] AS cs FROM cb, js
), vsub AS (
  SELECT v.vec_id, js.j, v.u[(js.j*8+1):(js.j*8+8)] AS vs FROM v, js
), d2 AS (
  SELECT vs.vec_id, vs.j, s.cid,
         list_sum(list_transform(list_zip(vs.vs, s.cs),
                                 z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
  FROM vsub vs JOIN cbsub s ON s.j = vs.j
), codes AS (
  SELECT vec_id, j, cid AS c FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2) WHERE rn = 1
), terms AS (
  SELECT qd.vec_id AS query_id, c.vec_id AS id, qd.j, qd.d2
  FROM codes c JOIN d2 qd ON qd.j = c.j AND qd.cid = c.c
  WHERE qd.vec_id < 5 AND c.vec_id != qd.vec_id
), dist AS (
  SELECT query_id, id, list_sum(list(d2 ORDER BY j)) AS adc
  FROM terms GROUP BY query_id, id
)
SELECT query_id, id, round(adc, 6) AS adc_d2, rank FROM (
  SELECT query_id, id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, id ASC) AS rank
  FROM dist) WHERE rank <= 5
"""


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ: the billion-to-trillion-scale ANN composition — md5-fixed
    coarse cells (ann.fixed_centroids) prune WHICH rows are scanned,
    md5-fixed PQ codes (ann.fixed_pq_codebooks) compress WHAT is scanned;
    the probed scan is the same JVM-only ADC fold as pq_adc_topk over a
    cell equi-join instead of a full pass. Both quantizers are pure
    functions of the data, so the DuckDB twin re-derives cells, probes,
    codebooks, codes and the ranked top-k end to end — the full IVFADC
    chain value-checked (minus residual encoding; see ivfpq_topk
    docstring for the documented trade)."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids(e, n_cells=8)
    books = ANN.fixed_pq_codebooks(e, m=8, ks=16)
    corpus = ANN.assign_cells(e, cents).join(
        ANN.pq_encode(e, books).withColumnRenamed("id", "vec_id"), "vec_id"
    ).select(F.col("vec_id").alias("id"), "cell", "codes")
    queries = e.where(F.col("vec_id") < 5)
    out = ANN.ivfpq_topk(corpus, queries, cents, books, k=5, nprobe=4)
    return out.select(
        "query_id", "id", _r6(F.col("adc_d2")).alias("adc_d2"), "rank"
    )


# the SQL_IVF_FIXED_TOPK cells/probes CTEs (coarse quantizer on e + nrm)
# merged with the SQL_PQ_ADC_TOPK codebook/code CTEs (PQ on unit vectors):
# candidates = probed-cell join (cells are disjoint, so no DISTINCT), ADC
# distance = the query's per-subspace d2 at the corpus row's code, folded
# in j order.
SQL_IVFPQ_TOPK = """
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), nr AS (
  SELECT vec_id, e,
         sqrt(greatest(list_sum(list_transform(e, x -> x*x)), 1e-24)) AS nrm
  FROM raw
), v AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM nr
), cents AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS ccid, u AS ce
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v ORDER BY h LIMIT 8)
), csim AS (
  SELECT v.vec_id, c.ccid,
         list_sum(list_transform(list_zip(v.u, c.ce), z -> z[1]*z[2])) AS cos
  FROM v, cents c
), cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim WHERE vec_id < 5) WHERE rn <= 4
), js AS (
  SELECT unnest(range(8)) AS j
), cb AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, u AS cu
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v ORDER BY h LIMIT 16)
), cbsub AS (
  SELECT js.j, cb.cid, cb.cu[(js.j*8+1):(js.j*8+8)] AS cs FROM cb, js
), vsub AS (
  SELECT v.vec_id, js.j, v.u[(js.j*8+1):(js.j*8+8)] AS vs FROM v, js
), d2 AS (
  SELECT vs.vec_id, vs.j, s.cid,
         list_sum(list_transform(list_zip(vs.vs, s.cs),
                                 z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
  FROM vsub vs JOIN cbsub s ON s.j = vs.j
), codes AS (
  SELECT vec_id, j, cid AS c FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2) WHERE rn = 1
), cand AS (
  SELECT p.query_id, cl.vec_id AS id
  FROM probes p JOIN cells cl ON cl.cell = p.cell
  WHERE cl.vec_id != p.query_id
), terms AS (
  SELECT ca.query_id, ca.id, qd.j, qd.d2
  FROM cand ca
  JOIN codes c ON c.vec_id = ca.id
  JOIN d2 qd ON qd.vec_id = ca.query_id AND qd.j = c.j AND qd.cid = c.c
), dist AS (
  SELECT query_id, id, list_sum(list(d2 ORDER BY j)) AS adc
  FROM terms GROUP BY query_id, id
)
SELECT query_id, id, round(adc, 6) AS adc_d2, rank FROM (
  SELECT query_id, id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, id ASC) AS rank
  FROM dist) WHERE rank <= 5
"""


def q_ivfpq_residual_topk(spark, sf_dir):
    """True IVFADC (Jegou PAMI 2011 §III): probed md5-fixed cells +
    RESIDUAL-quantized PQ codes — both sides quantize u − cent[cell] in
    the cell-local frame, the accuracy-correct composition ivfpq_topk's
    raw-vector codes trade away. Residual arithmetic makes centroid
    VALUES (not just argmax decisions) part of the quantized chain, so
    this query uses ann.fixed_centroids_fold / fixed_residual_pq_codebooks
    (every normalization and dot a sequential left fold) and the DuckDB
    twin re-derives cells, residuals, codebooks, codes, per-probe LUTs
    and the ranked top-k bit-for-bit."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids_fold(e, n_cells=8)
    books = ANN.fixed_residual_pq_codebooks(e, cents, m=8, ks=16)
    queries = e.where(F.col("vec_id") < 5)
    out = ANN.ivfpq_residual_topk(e, queries, cents, books, k=5, nprobe=4)
    return out.select(
        "query_id", "id", _r6(F.col("adc_d2")).alias("adc_d2"), "rank"
    )


# the residual chain re-derived: u = unit vectors (fold norms); cents =
# 8 smallest-md5 rows; cells/probes = fold-order dot argmax / top-4; the
# 16 smallest-md5 rows' RESIDUALS w.r.t. their own cells are the shared
# codebook (cbsub = subspace slices); corpus rows encode their residual's
# per-subspace argmin; the query side gets one LUT per (query, probed
# cell) — qd2 — and the ADC distance folds the 8 subspace terms in j
# order. Every subtraction, product and fold mirrors the numpy kernels
# exactly, so the match is bit-for-bit.
SQL_IVFPQ_RESIDUAL_TOPK = """
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), nr AS (
  SELECT vec_id, e,
         sqrt(greatest(list_sum(list_transform(e, x -> x*x)), 1e-24)) AS nrm
  FROM raw
), v AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM nr
), cents AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS ccid, u AS ce
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v ORDER BY h LIMIT 8)
), csim AS (
  SELECT v.vec_id, c.ccid,
         list_sum(list_transform(list_zip(v.u, c.ce), z -> z[1]*z[2])) AS cos
  FROM v, cents c
), cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim WHERE vec_id < 5) WHERE rn <= 4
), js AS (
  SELECT unnest(range(8)) AS j
), rv AS (  -- every vector's residual vs its own cell
  SELECT v.vec_id, list_transform(list_zip(v.u, c.ce),
                                  z -> z[1] - z[2]) AS r, cl.cell
  FROM v JOIN cells cl ON cl.vec_id = v.vec_id
  JOIN cents c ON c.ccid = cl.cell
), cb AS (  -- shared residual codebook: md5 ranks [8, 24) — the first 8
            -- md5 rows ARE the centroids (zero residuals), so the
            -- codebook starts past them (ann.fixed_residual_pq_codebooks
            -- skip semantics)
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, r AS cr
  FROM (SELECT md5(CAST(rv.vec_id AS VARCHAR)) AS h, rv.r
        FROM rv ORDER BY h LIMIT 16 OFFSET 8)
), cbsub AS (
  SELECT js.j, cb.cid, cb.cr[(js.j*8+1):(js.j*8+8)] AS cs FROM cb, js
), rsub AS (
  SELECT rv.vec_id, js.j, rv.r[(js.j*8+1):(js.j*8+8)] AS vs FROM rv, js
), cd2 AS (  -- corpus-side distances -> codes
  SELECT rs.vec_id, rs.j, s.cid,
         list_sum(list_transform(list_zip(rs.vs, s.cs),
                                 z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
  FROM rsub rs JOIN cbsub s ON s.j = rs.j
), codes AS (
  SELECT vec_id, j, cid AS c FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM cd2) WHERE rn = 1
), qres AS (  -- query residual PER PROBED CELL (the cell-local frame)
  SELECT p.query_id, p.cell,
         list_transform(list_zip(v.u, c.ce), z -> z[1] - z[2]) AS r
  FROM probes p JOIN v ON v.vec_id = p.query_id
  JOIN cents c ON c.ccid = p.cell
), qd2 AS (
  SELECT q.query_id, q.cell, js.j, s.cid,
         list_sum(list_transform(
             list_zip(q.r[(js.j*8+1):(js.j*8+8)], s.cs),
             z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
  FROM qres q, js
  JOIN cbsub s ON s.j = js.j
), cand AS (
  SELECT p.query_id, cl.vec_id AS id, p.cell
  FROM probes p JOIN cells cl ON cl.cell = p.cell
  WHERE cl.vec_id != p.query_id
), terms AS (
  SELECT ca.query_id, ca.id, qd.j, qd.d2
  FROM cand ca
  JOIN codes c ON c.vec_id = ca.id
  JOIN qd2 qd ON qd.query_id = ca.query_id AND qd.cell = ca.cell
             AND qd.j = c.j AND qd.cid = c.c
), dist AS (
  SELECT query_id, id, list_sum(list(d2 ORDER BY j)) AS adc
  FROM terms GROUP BY query_id, id
)
SELECT query_id, id, round(adc, 6) AS adc_d2, rank FROM (
  SELECT query_id, id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, id ASC) AS rank
  FROM dist) WHERE rank <= 5
"""


def q_curation_decisions(spark, sf_dir):
    """The training-data pipeline's FINAL per-document verdict in one
    relation: every training-slice doc (the 7/8 non-benchmark md5 slice)
    gets keep/drop with a single reason under fixed precedence —
    quality (Gopher-rule fail, `quality_filter`) > contaminated
    (benchmark 8-gram collision, `decontaminate_ngrams`) > near_dup
    (not its cluster's keep-longest representative, `dedup_keep_best`) >
    keep. This is the relation a curation run actually materializes
    (per-doc lineage of WHY each doc was dropped — the audit artifact
    reviewers ask for); the three stage relations are each independently
    value-oracled, and this oracle composes their SQL verbatim as
    subqueries under the same CASE precedence, so the verdict cannot
    drift from the stages it summarizes."""
    d = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    base = d.where(~is_bench).select("doc_id")
    qf = q_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("_qkeep")
    )
    ct = q_decontaminate_ngrams(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("_cont")
    )
    dk = q_dedup_keep_best(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep").cast("boolean").alias("_dkeep"),
    )
    j = (
        base.join(qf, "doc_id", "left")
        .join(ct, "doc_id", "left")
        .join(dk, "doc_id", "left")
    )
    reason = (
        F.when(F.col("_qkeep") == 0, F.lit("quality"))
        .when(F.col("_cont") == 1, F.lit("contaminated"))
        .when(~F.coalesce(F.col("_dkeep"), F.lit(True)), F.lit("near_dup"))
        .otherwise(F.lit("keep"))
    )
    return j.select(
        "doc_id",
        F.when(reason == "keep", F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("decision"),
        reason.alias("reason"),
    )


# built after the ORACLES dict (it interpolates three member oracles);
# same CASE precedence, LEFT joins keyed by doc_id, benchmark slice
# excluded by the same md5 first-hex-digit test
def _late_sql_curation_decisions() -> str:
    return f"""
WITH qf AS (SELECT doc_id, keep FROM ({ORACLES["quality_filter"]}) _q),
ct AS (SELECT doc_id FROM ({ORACLES["decontaminate_ngrams"]}) _c),
dk AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, keep
       FROM ({ORACLES["dedup_keep_best"]}) _d),
base AS (
  SELECT doc_id FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')
), verdict AS (
  SELECT b.doc_id,
         CASE WHEN qf.keep = 0 THEN 'quality'
              WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
              WHEN NOT coalesce(dk.keep, TRUE) THEN 'near_dup'
              ELSE 'keep' END AS reason
  FROM base b
  LEFT JOIN qf ON qf.doc_id = b.doc_id
  LEFT JOIN ct ON ct.doc_id = b.doc_id
  LEFT JOIN dk ON dk.doc_id = b.doc_id
)
SELECT doc_id,
       CASE WHEN reason = 'keep' THEN 'keep' ELSE 'drop' END AS decision,
       reason
FROM verdict
"""


def q_lsh_bucket_clusters(spark, sf_dir):
    """VERIFICATION-FREE LSH dedup clustering (the RefinedWeb/MassiveText
    recipe): connected components over the doc–bucket BIPARTITE graph —
    every MinHash band bucket is a node joined to its member docs, and no
    candidate pair is ever materialized or verified. At 10¹² documents
    this is the cheapest dedup tier: the edge list is |docs|×bands rows
    (linear), the CC runs on it directly, and the price is precision —
    any band collision merges, so clusters over-merge relative to the
    verified er_clusters chain (use it as the coarse pre-pass, the
    verified pipeline as the fine pass). Buckets are capped to 2..100
    docs on BOTH engines (singleton buckets add no edges; mega-buckets
    are boilerplate and would chain-merge the corpus — the same 100 cap
    as the block-CC oracle). Each kept bucket is CONTRACTED to a star on
    its min doc (hub—member edges) before the CC, so the iteration never
    carries the bands x docs bucket vertices — identical connectivity and
    identical min-id labels. Bucket ids are engine-local ('b:'+FNV fold
    here, 'b:'+band:value-tuple in SQL) but induce the SAME equivalence
    classes; the SQL twin keeps the bipartite closure ('b:' sorts after
    digit strings, so its labels are also real doc ids) and the hash
    match pins the star/bipartite equivalence. Output: (record_id,
    cluster_id) with singleton fallback — engine-portable even though
    internal node names are not."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    mh = B.minhash_bands_udf(num_perm=126, bands=21, shingle_k=5)
    # materialize ONCE: bkt feeds four branches (kept, members, hub,
    # edges) and the nondeterministic band kernel defeats exchange reuse
    # — without this the most expensive kernel in the query evaluates 4x
    # per document (review finding, confirmed via 4 ArrowEvalPython nodes
    # in the edges plan)
    bkt = (
        d.where(F.length("text") > 0)
        .select("doc_id", F.explode(mh("text")).alias("_k"))
        .select(
            "doc_id",
            F.concat(F.lit("b:"), F.col("_k").cast("string")).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    kept = (
        bkt.groupBy("b")
        .count()
        .where(F.col("count").between(2, 100))
        .select("b")
    )
    # bucket contraction: each kept bucket becomes a STAR on its min doc
    # (hub—member edges) instead of a bipartite bucket node — identical
    # connectivity and identical min-id labels, but the CC never sees the
    # bands x docs bucket nodes (21x fewer vertices at scale); the SQL
    # twin keeps the bipartite closure (equivalent by construction) and
    # its hash match pins the equivalence
    members = bkt.join(kept, "b")
    hub = members.groupBy("b").agg(F.min("doc_id").alias("_hub"))
    edges = (
        members.join(hub, "b")
        .where(F.col("doc_id") != F.col("_hub"))
        .select(F.col("_hub").alias("id1"), F.col("doc_id").alias("id2"))
    )
    cc = connected_components(edges)
    return (
        d.select(F.col("doc_id").alias("record_id"))
        .join(cc, "record_id", "left")
        .select(
            "record_id",
            F.coalesce("cluster_id", "record_id").alias("cluster_id"),
        )
    )


# the exact md5-minhash band relation (the proven _minhash_band_ctes
# twin), bucket nodes 'b:band:key', the same 2..100 bucket cap, then the
# recursive-CTE closure over the bipartite edges; labels are min string
# ids ('b:' > digits, so labels are doc ids), singleton fallback for docs
# in no kept bucket
def _lsh_bucket_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_band_ctes(
    "(SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents)",
    "text", 126, 6)},
bkt AS (
  SELECT doc_id, 'b:' || CAST(band AS VARCHAR) || ':' || key AS b
  FROM mh_band
), kept AS (
  SELECT b FROM bkt GROUP BY b HAVING count(*) BETWEEN 2 AND 100
), e AS (
  SELECT doc_id AS u, b AS v FROM bkt JOIN kept USING (b)
), esym AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, s.v FROM reach r JOIN esym s ON r.v = s.u WHERE s.v != r.u
), cc AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id
  FROM reach GROUP BY u
)
SELECT CAST(d.doc_id AS VARCHAR) AS record_id,
       coalesce(cc.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
FROM documents d
LEFT JOIN cc ON cc.record_id = CAST(d.doc_id AS VARCHAR)
"""


EMB_DDL = "vec_id long, embedding array<float>, label int"


def q_streaming_ivfpq_topk(spark, sf_dir):
    """Streaming ANN front: odd vec_ids < 40 (20 query vectors) replay as
    a 3-shard stream (maxFilesPerTrigger=1 — three real micro-batches)
    against the EVEN half of the embeddings table as the standing corpus,
    indexed ONCE with the md5-fixed IVF-PQ layout (centroids + codebooks
    + cached (id, cell, codes)). Each epoch runs the batch-tested
    ivfpq_topk verbatim and appends via epoch-partitioned dynamic
    overwrite (exactly-once under replay). Every query's top-5 depends
    only on the static index, so the 3-epoch replay must equal the
    one-shot computation — which is exactly what the DuckDB twin
    (SQL_STREAMING_IVFPQ_TOPK: the SQL_IVFPQ_TOPK chain with
    even-corpus quantizers and odd-query probes) re-derives."""
    import shutil

    from .streaming.incremental import streaming_ivfpq_topk

    e = _emb(spark, sf_dir)
    corpus = e.where(F.col("vec_id") % 2 == 0)
    stage = _proc_stage_dir(sf_dir, "ivfpq_stream")
    done = os.path.join(stage, "_done")
    if not os.path.exists(done):
        os.makedirs(stage, exist_ok=True)
        qset = e.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40))
        for i in range(3):
            shard_dir = os.path.join(stage, f"_mk{i}")
            (
                qset.where(F.floor((F.col("vec_id") % 6) / 2) == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(shard_dir)
            )
            part = next(
                f for f in os.listdir(shard_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(stage, f"shard{i:04d}.parquet")
            os.replace(os.path.join(shard_dir, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(done, "w").close()
    stream = (
        spark.readStream.schema(EMB_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "shard*.parquet"))
    )
    out_dir = _proc_stage_dir(sf_dir, "ivfpq_front")
    shutil.rmtree(out_dir, ignore_errors=True)  # appends must not accumulate
    out = streaming_ivfpq_topk(
        spark, stream, corpus, out_dir, k=5, nprobe=4
    )
    return out.select(
        "query_id", "id", _r6(F.col("adc_d2")).alias("adc_d2"), "rank"
    )


# SQL_IVFPQ_TOPK re-based on the streaming split: quantizers (cents, cb)
# are pure functions of the EVEN corpus half; cells cover even rows only;
# probes are the odd query vectors < 40. Batching cannot appear anywhere
# in this derivation — that absence IS the replay ≡ one-shot claim the
# hash match proves.
SQL_STREAMING_IVFPQ_TOPK = """
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), nr AS (
  SELECT vec_id, e,
         sqrt(greatest(list_sum(list_transform(e, x -> x*x)), 1e-24)) AS nrm
  FROM raw
), v AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM nr
), cents AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS ccid, u AS ce
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v WHERE vec_id % 2 = 0 ORDER BY h LIMIT 8)
), csim AS (
  SELECT v.vec_id, c.ccid,
         list_sum(list_transform(list_zip(v.u, c.ce), z -> z[1]*z[2])) AS cos
  FROM v, cents c
), cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim WHERE vec_id % 2 = 0) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, ccid AS cell FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, ccid ASC) AS rn
    FROM csim WHERE vec_id % 2 = 1 AND vec_id < 40) WHERE rn <= 4
), js AS (
  SELECT unnest(range(8)) AS j
), cb AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, u AS cu
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
        FROM v WHERE vec_id % 2 = 0 ORDER BY h LIMIT 16)
), cbsub AS (
  SELECT js.j, cb.cid, cb.cu[(js.j*8+1):(js.j*8+8)] AS cs FROM cb, js
), vsub AS (
  SELECT v.vec_id, js.j, v.u[(js.j*8+1):(js.j*8+8)] AS vs FROM v, js
), d2 AS (
  SELECT vs.vec_id, vs.j, s.cid,
         list_sum(list_transform(list_zip(vs.vs, s.cs),
                                 z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
  FROM vsub vs JOIN cbsub s ON s.j = vs.j
), codes AS (
  SELECT vec_id, j, cid AS c FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2 WHERE vec_id % 2 = 0) WHERE rn = 1
), cand AS (
  SELECT p.query_id, cl.vec_id AS id
  FROM probes p JOIN cells cl ON cl.cell = p.cell
  WHERE cl.vec_id != p.query_id
), terms AS (
  SELECT ca.query_id, ca.id, qd.j, qd.d2
  FROM cand ca
  JOIN codes c ON c.vec_id = ca.id
  JOIN d2 qd ON qd.vec_id = ca.query_id AND qd.j = c.j AND qd.cid = c.c
), dist AS (
  SELECT query_id, id, list_sum(list(d2 ORDER BY j)) AS adc
  FROM terms GROUP BY query_id, id
)
SELECT query_id, id, round(adc, 6) AS adc_d2, rank FROM (
  SELECT query_id, id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, id ASC) AS rank
  FROM dist) WHERE rank <= 5
"""


def q_ann_scorecard(spark, sf_dir):
    """ANN-method scorecard: recall@5 of every value-oracled approximate
    path (frozen-quantizer IVF, raw-vector PQ/ADC, IVF-PQ, residual
    IVF-PQ) against the EXACT cosine top-5 truth for the 5 fixed queries
    — the ANN companion of `sketch_recall`: the operating-point card a
    user reads before choosing a method's speed/recall trade. Counts are
    exact integers; recall is one division rounded at 6. The oracle
    composes the methods' own oracle SQL as subqueries plus a brute-force
    exact-top-5 CTE, so the scorecard can't drift from the queries it
    scores. Reading the card: the md5-fixed quantizers are the
    VERIFIABILITY floor, not the operating point — at sf0.01 ivf_fixed
    reads 0.6 (exact distances, probed cells) while the 16-code PQ
    variants read ~0.1 (64-dim corpus quantized to 8 random-sample
    codes/subspace), with residual ≥ raw as theory predicts; the trained
    codebooks (ann.train_pq_codebooks, pytest-asserted) are what a
    production pipeline deploys."""
    e = _emb(spark, sf_dir)
    queries = e.where(F.col("vec_id") < 5)
    # truth read by all four branches: materialize once
    exact = (
        ANN.brute_force_topk(e, queries, k=5)
        .select("query_id", "id")
        .localCheckpoint(eager=True)
    )
    out = None
    for name, fn in (
        ("ivf_fixed", q_ivf_fixed_topk),
        ("ivfpq", q_ivfpq_topk),
        ("ivfpq_residual", q_ivfpq_residual_topk),
        ("pq_adc", q_pq_adc_topk),
    ):
        pred = fn(spark, sf_dir).select("query_id", "id")
        marked = pred.join(
            exact.withColumn("_t", F.lit(1)), ["query_id", "id"], "left"
        )
        stats = (
            marked.agg(
                F.count("*").alias("n_pred"),
                F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_hit"),
            )
            # denominator DERIVED from the truth relation, not hardcoded:
            # a k or query-set change in one place can no longer skew the
            # reported recall silently (review finding)
            .crossJoin(exact.agg(F.count("*").alias("n_truth")))
            .select(
                F.lit(name).alias("method"),
                "n_pred",
                "n_hit",
                _r6(
                    F.col("n_hit").cast("double") / F.col("n_truth")
                ).alias("recall_at_5"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("method")


# exact top-5 truth for the 5 fixed queries (the brute_force_topk shape:
# cosine DESC, id ASC); method subqueries are the oracle constants above,
# composed verbatim so scorecard and scored queries can never diverge
def _late_sql_ann_scorecard() -> str:
    exact = """
  SELECT query_id, id FROM (
    SELECT q.vec_id AS query_id, t.vec_id AS id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(list_zip(q.e, t.e),
                                              z -> z[1]*z[2]))
                      / (q.nrm * t.nrm) DESC, t.vec_id ASC) AS rank
    FROM vv q JOIN vv t ON t.vec_id != q.vec_id
    WHERE q.vec_id < 5) WHERE rank <= 5
"""
    ctes = [
        """vv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x*x))) AS nrm
  FROM embeddings
)""",
        f"exact_p AS ({exact})",
    ]
    branches = []
    for name, key in (
        ("ivf_fixed", "ivf_fixed_topk"),
        ("ivfpq", "ivfpq_topk"),
        ("ivfpq_residual", "ivfpq_residual_topk"),
        ("pq_adc", "pq_adc_topk"),
    ):
        ctes.append(
            f"{name}_p AS (SELECT query_id, id FROM ({ORACLES[key]}) _s)"
        )
        branches.append(
            f"SELECT '{name}' AS method,"
            f" (SELECT count(*) FROM {name}_p) AS n_pred,"
            f" (SELECT count(*) FROM {name}_p JOIN exact_p"
            f" USING (query_id, id)) AS n_hit"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + ",\nstats AS (\n  "
        + "\n  UNION ALL\n  ".join(branches)
        + "\n)\n"
        + """SELECT method, n_pred, n_hit,
       round(CAST(n_hit AS DOUBLE)
             / (SELECT count(*) FROM exact_p), 6) AS recall_at_5
FROM stats ORDER BY method
"""
    )


def q_connected_components(spark, sf_dir):
    """Iterative large-star/small-star CC over block-candidate edges.

    Value-checked against a DuckDB recursive-CTE transitive closure: the
    cluster label is the lexicographic min node id of the component on both
    sides (ids compared as strings, matching the engine's url-keyed model).
    """
    pairs = q_block_candidates(spark, sf_dir).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    return connected_components(pairs)


_DENDRO_LEVELS = (0.2, 0.25, 0.5)


def q_cluster_dendrogram(spark, sf_dir):
    """Multi-resolution single-linkage clustering — the threshold
    DENDROGRAM cut levels (hierarchical ER's operating-point sweep):
    connected components over the SAME weighted n-gram-Jaccard edge
    relation at three nested thresholds (0.2 / 0.25 / 0.5), one labeled
    assignment column per level. Because the edge sets are nested by
    construction, level θ₂ ≥ θ₁ clusters REFINE level θ₁'s (every
    tighter cluster sits inside one looser cluster — pinned by
    test_clustering); reading across columns shows exactly where a
    chance-overlap chain breaks apart as the threshold rises, which is
    how an operating threshold is actually chosen. Records with no
    surviving edge at a tighter level fall back to singleton labels
    (their own id). The weighted edges are computed ONCE and cached;
    each level is one CC run over a filtered view — no re-scoring."""
    edges = track(
        q_ngram_jaccard_pairs(spark, sf_dir)
        .select(
            F.col("id1").cast("string").alias("id1"),
            F.col("id2").cast("string").alias("id2"),
            "jaccard",
        )
        .cache()
    )
    out = (
        edges.select(F.col("id1").alias("record_id"))
        .union(edges.select("id2"))
        .distinct()
    )
    for t in _DENDRO_LEVELS:
        col = f"c_{int(t * 100)}"
        lvl = connected_components(
            edges.where(F.col("jaccard") >= t).select("id1", "id2")
        ).withColumnRenamed("cluster_id", col)
        out = out.join(lvl, "record_id", "left").withColumn(
            col, F.coalesce(F.col(col), F.col("record_id"))
        )
    return out


def _sql_cluster_dendrogram() -> str:
    lvl_ctes = []
    sel = []
    joins = []
    for t in _DENDRO_LEVELS:
        k = int(t * 100)
        lvl_ctes.append(
            f"""esym{k} AS (
  SELECT id1 AS u, id2 AS v FROM jac WHERE jaccard >= {t}
  UNION
  SELECT id2 AS u, id1 AS v FROM jac WHERE jaccard >= {t}
), reach{k} AS (
  SELECT u, v FROM esym{k}
  UNION
  SELECT r.u, e.v FROM reach{k} r JOIN esym{k} e ON r.v = e.u
  WHERE e.v != r.u
), cc{k} AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id
  FROM reach{k} GROUP BY u
)"""
        )
        sel.append(f"coalesce(cc{k}.cluster_id, n.record_id) AS c_{k}")
        joins.append(f"LEFT JOIN cc{k} ON cc{k}.record_id = n.record_id")
    return (
        r"""WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), jac AS (
  SELECT CAST(id1 AS VARCHAR) AS id1, CAST(id2 AS VARCHAR) AS id2, jaccard
  FROM (
    SELECT p.id1, p.id2,
           round(CAST(len(list_intersect(gl.gr, grr.gr)) AS DOUBLE)
                 / (len(gl.gr) + len(grr.gr)
                    - len(list_intersect(gl.gr, grr.gr))), 6) AS jaccard
    FROM pairs p
    JOIN g gl ON gl.doc_id = p.id1
    JOIN g grr ON grr.doc_id = p.id2
  ) WHERE jaccard >= 0.2
), nodes AS (
  -- explicit DISTINCT: under WITH RECURSIVE, DuckDB does not collapse
  -- a plain UNION in a non-recursive CTE
  SELECT DISTINCT record_id FROM (
    SELECT id1 AS record_id FROM jac UNION ALL SELECT id2 FROM jac)
), """
        + ",\n".join(lvl_ctes)
        + f"""
SELECT n.record_id, {", ".join(sel)}
FROM nodes n
{chr(10).join(joins)}
"""
    )


SQL_CLUSTER_DENDROGRAM = _sql_cluster_dendrogram()


def q_pivot_clusters(spark, sf_dir):
    """Correlation clustering over the block-candidate edges —
    KwikCluster parallel pivot rounds (Ailon et al. 2008; CDK KDD'14)
    with the deterministic md5 permutation: the over-merge-proof
    alternative to `connected_components` on the SAME edge relation
    (CC chains anything reachable; a pivot cluster is one hop from its
    pivot, expected 3-approx of optimal correlation clustering). The
    SQL twin unrolls the pivot rounds (the pagerank idiom) and must
    reproduce every (record_id, cluster_id) assignment bit-for-bit —
    which also certifies the local-minimum parallelization against the
    sequential greedy, since tests pin parallel == sequential."""
    from .operators.clustering import pivot_clusters

    pairs = q_block_candidates(spark, sf_dir).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    return pivot_clusters(pairs, max_rounds=PIVOT_ROUNDS)


PIVOT_ROUNDS = 10


def _mis_rounds_sql(rounds: int, e: str = "e") -> str:
    """Shared unrolled lex-first-MIS CTE fragments over a symmetric
    edge CTE named ``e`` and a node CTE ``n0`` (id, rk): emits
    ea{r}/pv{r}/n{r} for r in 1..rounds. Round r computes the local
    rank minima among the surviving node set n{r-1} (plus isolated
    actives, via one LEFT JOIN) and retires them and their active
    neighbors. Rounds after the active set empties produce empty
    relations, so a fixed unroll is safe. Callers union pv1..pvR (the
    MIS) and treat n{rounds} as the undecided leftover."""
    parts = []
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f""", ea{r} AS MATERIALIZED (
  SELECT {e}.u, {e}.v, nu.rk AS rk_u, nv.rk AS rk_v
  FROM {e} JOIN n{p} nu ON {e}.u = nu.id JOIN n{p} nv ON {e}.v = nv.id
), pv{r} AS MATERIALIZED (
  SELECT a.id FROM n{p} a
  LEFT JOIN (SELECT u, min(rk_v) AS mn FROM ea{r} GROUP BY u) m
    ON a.id = m.u
  WHERE m.u IS NULL OR a.rk < m.mn
), n{r} AS MATERIALIZED (
  SELECT * FROM n{p}
  WHERE id NOT IN (SELECT id FROM pv{r})
    AND id NOT IN (
      SELECT u FROM ea{r} WHERE v IN (SELECT id FROM pv{r}))
)""")
    return "".join(parts)


def _pivot_clusters_sql(rounds: int = 10) -> str:
    """Unrolled-round DuckDB twin of operators/clustering.pivot_clusters
    over the block-candidate edges: the shared MIS rounds
    (_mis_rounds_sql) pick the pivots; the single FINAL assignment join
    gives every non-pivot its minimum-rank adjacent pivot (per-round
    assignment would be wrong — see the operator docstring); leftovers
    after the last round retire as singletons exactly like the
    operator."""
    head = r"""
WITH b AS MATERIALIZED (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS MATERIALIZED (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS MATERIALIZED (
  SELECT DISTINCT CAST(l.doc_id AS VARCHAR) AS id1,
                  CAST(r.doc_id AS VARCHAR) AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), e AS MATERIALIZED (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2 AS u, id1 AS v FROM pairs
), n0 AS MATERIALIZED (
  SELECT DISTINCT u AS id, md5(u) || u AS rk FROM e
)"""
    pivs = " UNION ALL ".join(
        f"SELECT id FROM pv{r}" for r in range(1, rounds + 1)
    )
    tail = f""", piv AS MATERIALIZED (
  {pivs}
)
SELECT record_id, cluster_id FROM (
  SELECT id AS record_id, id AS cluster_id FROM piv
  UNION ALL
  SELECT u AS record_id, arg_min(v, md5(v) || v) AS cluster_id
  FROM e
  WHERE v IN (SELECT id FROM piv) AND u NOT IN (SELECT id FROM piv)
  GROUP BY u
  UNION ALL
  SELECT id AS record_id, id AS cluster_id FROM n{rounds}
)"""
    return head + _mis_rounds_sql(rounds) + tail


SQL_PIVOT_CLUSTERS = _pivot_clusters_sql(10)


# canopy thresholds as exact integer cross-multiplications on the gram
# intersection/union sizes — never a float at a membership boundary:
# tight = Jaccard >= 1/2, loose = Jaccard >= 1/5
CANOPY_TIGHT_MULT = 2
CANOPY_LOOSE_MULT = 5


def q_canopy_blocks(spark, sf_dir):
    """Canopy clustering (McCallum, Nigam, Ungar, KDD 2000) over the
    corpus — the cheap-metric OVERLAPPING pre-blocking stage: greedy
    rank-order centers with a tight-threshold exclusion zone, loose
    membership that may place one document in several canopies (the
    overlap is what preserves recall across canopy borders when
    downstream expensive comparison runs per canopy). Cheap metric =
    exact character-5-gram Jaccard over the block-candidate pairs,
    thresholded by integer cross-multiplication (inter*2 >= uni tight,
    inter*5 >= uni loose — no float at a membership boundary). Centers
    are the lex-first MIS over the tight graph (the KwikCluster pivot
    argument: a greedy center must not be tight-adjacent to an earlier
    center), parallelized by operators/clustering.lex_first_mis;
    membership is one loose-edge join against the center set. Every
    document gets >= 1 canopy (isolated docs center themselves)."""
    from .operators.clustering import canopy_blocks

    d = _docs(spark, sf_dir)
    pairs = q_block_candidates(spark, sf_dir)
    g = d.select("doc_id", B.ngram_array("text", n=5).alias("g"))
    l = g.select(F.col("doc_id").alias("id1"), F.col("g").alias("g1"))
    r = g.select(F.col("doc_id").alias("id2"), F.col("g").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    uni = F.size("g1") + F.size("g2") - inter
    base = (
        pairs.join(l, "id1")
        .join(r, "id2")
        .select(
            F.col("id1").cast("string").alias("id1"),
            F.col("id2").cast("string").alias("id2"),
            inter.alias("inter"),
            uni.alias("uni"),
        )
    )
    loose = base.where(
        F.col("inter") * CANOPY_LOOSE_MULT >= F.col("uni")
    ).select("id1", "id2")
    tight = base.where(
        F.col("inter") * CANOPY_TIGHT_MULT >= F.col("uni")
    ).select("id1", "id2")
    nodes = d.select(F.col("doc_id").cast("string").alias("id"))
    return canopy_blocks(tight, loose, nodes)


def _canopy_blocks_sql(rounds: int = 10) -> str:
    """DuckDB twin of q_canopy_blocks: block-candidate pairs + gram
    intersection/union integers, tight/loose symmetric edge sets, the
    shared MIS rounds over the tight graph for the center set, one
    loose join for membership, undecided leftovers as self-canopies."""
    head = r"""
WITH b AS MATERIALIZED (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS MATERIALIZED (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), base AS MATERIALIZED (
  SELECT CAST(p.id1 AS VARCHAR) AS id1, CAST(p.id2 AS VARCHAR) AS id2,
         len(list_intersect(gl.gr, grr.gr)) AS inter,
         len(gl.gr) + len(grr.gr) - len(list_intersect(gl.gr, grr.gr)) AS uni
  FROM pairs p
  JOIN g gl ON gl.doc_id = p.id1
  JOIN g grr ON grr.doc_id = p.id2
), te AS MATERIALIZED (
  SELECT id1 AS u, id2 AS v FROM base WHERE inter * %(T)d >= uni
  UNION
  SELECT id2 AS u, id1 AS v FROM base WHERE inter * %(T)d >= uni
), le AS MATERIALIZED (
  SELECT id1 AS u, id2 AS v FROM base WHERE inter * %(L)d >= uni
  UNION
  SELECT id2 AS u, id1 AS v FROM base WHERE inter * %(L)d >= uni
), n0 AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         md5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR) AS rk
  FROM documents
)""" % {"T": CANOPY_TIGHT_MULT, "L": CANOPY_LOOSE_MULT}
    pivs = " UNION ALL ".join(
        f"SELECT id FROM pv{r}" for r in range(1, rounds + 1)
    )
    tail = f""", centers AS MATERIALIZED (
  {pivs}
  UNION ALL
  SELECT id FROM n{rounds}
)
SELECT DISTINCT canopy_id, member_id FROM (
  SELECT id AS canopy_id, id AS member_id FROM centers
  UNION ALL
  SELECT le.u AS canopy_id, le.v AS member_id
  FROM le JOIN centers c ON le.u = c.id
)"""
    return head + _mis_rounds_sql(rounds, e="te") + tail


SQL_CANOPY_BLOCKS = _canopy_blocks_sql(10)


def q_cluster_density(spark, sf_dir):
    """Transitive-closure over-merge detector: connected components glue
    everything reachable, so one noisy edge chains two real entities
    into a single cluster — and the symptom is LOW EDGE DENSITY
    (a genuine duplicate set is near-clique; a chained over-merge is
    near-path). Per CC cluster over the block-candidate edges: node
    count, edge count, density = edges / C(n,2), suspect flag below 0.5
    — the triage relation a clerical-review queue would consume. Exact
    integer counts + one division; CC re-derived by the oracle's
    recursive CTE."""
    pairs = q_block_candidates(spark, sf_dir).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    asg = connected_components(pairs)  # (record_id, cluster_id)
    sizes = asg.groupBy("cluster_id").agg(F.count("*").alias("n_nodes"))
    edges = (
        pairs.join(
            asg.select(
                F.col("record_id").alias("id1"),
                F.col("cluster_id"),
            ),
            "id1",
        )
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_edges"))
    )
    poss = (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2).cast("long")
    dens = _r6(F.col("n_edges").cast("double") / poss)
    return (
        sizes.join(edges, "cluster_id")
        .where(F.col("n_nodes") >= 2)
        .select(
            "cluster_id",
            "n_nodes",
            "n_edges",
            dens.alias("density"),
            (dens < 0.5).cast("int").alias("suspect"),
        )
    )


def q_pagerank(spark, sf_dir):
    """PageRank centrality over the J1 block-candidate similarity graph
    (undirected → both directions; isolated docs keep the teleport
    floor). High-rank documents are the hubs of the near-dup graph —
    template/boilerplate pages that block with everything — the triage
    relation a crawl-prioritization or boilerplate-review queue consumes
    (Page et al. 1999; operators/graph.py for the integer-arithmetic
    determinism contract). 8 synchronous iterations, damping 0.85, ranks
    in integer micro-units — the DuckDB twin re-derives every iteration
    exactly via unrolled CTEs."""
    from .operators.graph import pagerank

    cand = q_block_candidates(spark, sf_dir)
    edges = cand.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionAll(cand.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    ranks = pagerank(edges, nodes, iterations=8)
    return ranks.select(F.col("node").alias("doc_id"), "rank_micro")


def _pagerank_sql(iters: int = 8, scale: int = 10**12, dpct: int = 85) -> str:
    """Unrolled-CTE DuckDB twin of operators/graph.pagerank: iteration i
    re-derives the contribution sums (s_i), the dangling mass (g_i) and
    the damped update (r_i) in the same int64 arithmetic (sums cast back
    from DuckDB's HUGEINT before the division). Every r_i and the shared
    base relations are AS MATERIALIZED: each iteration references its
    predecessor twice (s_i and g_i), so inlined CTEs would re-evaluate
    the whole chain 2^i times (measured: 212 s → 0.1 s at sf0.01)."""
    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(
            f"""s{i} AS (
  SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS s
  FROM {prev} r JOIN deg d ON d.src = r.node JOIN edges e ON e.src = r.node
  GROUP BY e.dst
), g{i} AS (
  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dang
  FROM {prev} r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL
), r{i} AS MATERIALIZED (
  SELECT nd.node,
         (CAST({100 - dpct} AS BIGINT) * {scale}) // (CAST(100 AS BIGINT) * nn.n)
         + (CAST({dpct} AS BIGINT) * (COALESCE(s.s, 0) + g.dang // nn.n)) // 100
           AS rank
  FROM nodes nd CROSS JOIN nn CROSS JOIN g{i} g
  LEFT JOIN s{i} s ON s.node = nd.node
)"""
        )
        prev = f"r{i}"
    body = ",\n".join(its)
    return f"""
WITH cand AS MATERIALIZED ({SQL_BLOCK_CANDIDATES}),
edges AS MATERIALIZED (
  SELECT id1 AS src, id2 AS dst FROM cand
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM cand
),
deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, {scale} // nn.n AS rank FROM nodes CROSS JOIN nn),
{body}
SELECT node AS doc_id, rank AS rank_micro FROM {prev}
"""


SQL_PAGERANK = _pagerank_sql()


def q_k_core(spark, sf_dir):
    """k-core (k=3, 4 bounded peel rounds) of the block-candidate
    similarity graph: the dense, trustworthy core of each suspect
    cluster — a genuine duplicate set is near-clique and survives, a
    transitive-closure chain peels away (the keep-side complement of
    cluster_density's flag; operators/graph.k_core docstring for the
    bounded-rounds contract)."""
    from .operators.graph import k_core

    cand = q_block_candidates(spark, sf_dir)
    cores = k_core(cand, k=3, rounds=4)
    return cores.select(F.col("node").alias("doc_id"), "degree")


def _k_core_sql(k: int = 3, rounds: int = 4) -> str:
    """Unrolled peel rounds as MATERIALIZED CTEs (each e_i is read by
    the next round's degree AND both semi-joins — same inlining blowup
    as the pagerank twin)."""
    its = []
    prev = "e0"
    for i in range(1, rounds + 1):
        its.append(
            f"""v{i} AS MATERIALIZED (
  SELECT src FROM (SELECT src, count(*) AS c FROM {prev} GROUP BY src)
  WHERE c >= {k}
), e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN v{i} a ON a.src = e.src
  JOIN v{i} b ON b.src = e.dst
)"""
        )
        prev = f"e{i}"
    body = ",\n".join(its)
    return f"""
WITH cand AS MATERIALIZED ({SQL_BLOCK_CANDIDATES}),
e0 AS MATERIALIZED (
  SELECT id1 AS src, id2 AS dst FROM cand
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM cand
),
{body}
SELECT src AS doc_id, count(*) AS degree FROM {prev} GROUP BY src
"""


SQL_K_CORE = _k_core_sql()


def q_k_truss(spark, sf_dir):
    """k-truss (k=3, 3 bounded peel rounds) of the block-candidate
    similarity graph: the EDGE-level dense-core triage — the surviving
    edges each sit in ≥ k−2 triangles among survivors, so the
    transitive-closure bridge between two genuine duplicate cliques
    (support 0) peels in round one even when both endpoints are
    high-degree (operators/graph.k_truss docstring for the
    bounded-rounds superset contract)."""
    from .operators.graph import k_truss

    cand = q_block_candidates(spark, sf_dir)
    return k_truss(cand, k=3, rounds=3).orderBy("id1", "id2")


def _k_truss_sql(k: int = 3, rounds: int = 3) -> str:
    """Unrolled peel rounds as MATERIALIZED CTEs: per round one
    apex-oriented triangle enumeration (each triangle once as a<b<c),
    a 3-way edge vote, and the support-threshold semi-join; a final
    enumeration over the fixed set reports post-peel support (the same
    re-measure the DataFrame operator does)."""
    its = []
    prev = "e0"
    for i in range(1, rounds + 1):
        its.append(
            f"""t{i} AS MATERIALIZED (
  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
  FROM {prev} e1
  JOIN {prev} e2 ON e1.b = e2.a
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
), s{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS sup FROM (
    SELECT ta AS a, tb AS b FROM t{i}
    UNION ALL SELECT tb AS a, tc AS b FROM t{i}
    UNION ALL SELECT ta AS a, tc AS b FROM t{i}
  ) GROUP BY 1, 2
), e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN s{i} s ON s.a = e.a AND s.b = e.b
  WHERE s.sup >= {k - 2}
)"""
        )
        prev = f"e{i}"
    body = ",\n".join(its)
    return f"""
WITH cand AS MATERIALIZED ({SQL_BLOCK_CANDIDATES}),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
  FROM cand WHERE id1 <> id2
),
{body},
tf AS MATERIALIZED (
  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
  FROM {prev} e1
  JOIN {prev} e2 ON e1.b = e2.a
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
), sf AS MATERIALIZED (
  SELECT a, b, count(*) AS sup FROM (
    SELECT ta AS a, tb AS b FROM tf
    UNION ALL SELECT tb AS a, tc AS b FROM tf
    UNION ALL SELECT ta AS a, tc AS b FROM tf
  ) GROUP BY 1, 2
)
SELECT e.a AS id1, e.b AS id2, s.sup AS support
FROM {prev} e JOIN sf s ON s.a = e.a AND s.b = e.b
ORDER BY id1, id2
"""


SQL_K_TRUSS = _k_truss_sql()


def q_clustering_coefficient(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    block-candidate graph (operators/graph.triangle_counts): the
    per-RECORD over-merge triage — a bridge doc chaining two real
    entities has low lcc even when both sides are dense, which
    per-cluster density (cluster_density) can't see."""
    from .operators.graph import triangle_counts

    cand = q_block_candidates(spark, sf_dir)
    # degree orientation is the production path (hub wedge fan-out
    # bounded O(sqrt E) on skewed graphs); the SQL twin enumerates via id
    # orientation — the triangle SET is orientation-invariant, so the
    # hash match doubles as an equality proof between the two plans
    return triangle_counts(cand, orient="degree").select(
        F.col("node").alias("doc_id"), "degree", "triangles", "lcc"
    )


SQL_CLUSTERING_COEFFICIENT = f"""
WITH cand AS MATERIALIZED ({SQL_BLOCK_CANDIDATES}),
e AS MATERIALIZED (
  SELECT least(id1, id2) AS a, greatest(id1, id2) AS b FROM cand
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node
),
tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM e ab JOIN e bc ON ab.b = bc.a
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
),
per_node AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY node
)
SELECT d.node AS doc_id, d.degree,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       round(2.0 * COALESCE(p.triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS lcc
FROM deg d LEFT JOIN per_node p ON p.node = d.node
WHERE d.degree >= 2
"""


def q_label_propagation(spark, sf_dir):
    """Synchronous label-propagation communities (4 pinned rounds) over
    the block-candidate graph (operators/graph.label_propagation): the
    member-partition complement of the over-merge triage family — an
    over-merged CC cluster of two dense duplicate sets glued by a bridge
    splits into two communities naming the records on each side."""
    from .operators.graph import label_propagation

    cand = q_block_candidates(spark, sf_dir)
    return label_propagation(cand, rounds=4).select(
        F.col("node").alias("doc_id"), "community"
    )


def _lpa_sql(rounds: int = 4) -> str:
    """Unrolled voting rounds as MATERIALIZED CTEs; the argmax is a
    row_number over (count DESC, label ASC) — the same total-order
    tie-break the operator expresses as max(struct(c, -label))."""
    its = []
    prev = "l0"
    for i in range(1, rounds + 1):
        its.append(
            f"""v{i} AS MATERIALIZED (
  SELECT s.src AS node, l.label, count(*) AS c
  FROM sym s JOIN {prev} l ON l.node = s.dst
  GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM v{i})
  WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    body = ",\n".join(its)
    return f"""
WITH cand AS MATERIALIZED ({SQL_BLOCK_CANDIDATES}),
sym AS MATERIALIZED (
  SELECT id1 AS src, id2 AS dst FROM cand
  UNION ALL
  SELECT id2 AS src, id1 AS dst FROM cand
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM sym
),
{body}
SELECT node AS doc_id, label AS community FROM {prev}
"""


SQL_LABEL_PROPAGATION = _lpa_sql()


def _cdc_changes(d: DataFrame) -> DataFrame:
    """The deterministic Debezium-style change batch both MERGE queries
    apply: deletes (seq 1), updates (seq 2, overlapping the %85 deleted
    keys so latest-change-wins is exercised), inserts of new keys
    (seq 3)."""
    deletes = d.where(F.col("doc_id") % 17 == 0).select(
        F.lit("D").alias("op"), F.lit(1).alias("seq"),
        "doc_id", "text", "lang", "source", "n_chars",
    )
    updates = d.where(F.col("doc_id") % 5 == 0).select(
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
        "doc_id", F.upper("text").alias("text"), "lang",
        F.lit("cdc_update").alias("source"), "n_chars",
    )
    inserts = d.where(F.col("doc_id") % 11 == 3).select(
        F.lit("I").alias("op"), F.lit(3).alias("seq"),
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("inserted for "), F.col("doc_id").cast("string")).alias("text"),
        "lang", F.lit("cdc_insert").alias("source"),
        F.length(
            F.concat(F.lit("inserted for "), F.col("doc_id").cast("string"))
        ).cast("long").alias("n_chars"),
    )
    return deletes.unionByName(updates).unionByName(inserts)


def q_merge_upsert(spark, sf_dir):
    """Lakehouse CDC MERGE: apply a deterministic Debezium-style change
    batch (inserts, updates, deletes, one key carrying BOTH a delete and
    a later update so latest-change-wins is exercised) to the documents
    snapshot and return the next snapshot (operators/cdc.merge_upsert).
    The Iceberg-style checkpoint story's content half: snapshot + change
    batch → next snapshot, pure DataFrame algebra."""
    from .operators.cdc import merge_upsert

    d = _docs(spark, sf_dir)
    return merge_upsert(d, _cdc_changes(d), "doc_id", seq_col="seq", op_col="op")


def q_streaming_dq_checks(spark, sf_dir):
    """Continuous data-quality audit as a REAL multi-batch stream: the
    documents table replays in 3 doc_id-sharded micro-batches and the
    per-doc_id counter state folds across epochs
    (streaming/incremental.streaming_dq_counters — the keyed state is
    what makes the uniqueness check correct when duplicate ids arrive
    in different batches). The final four audit rows must hash-match
    the one-shot documents-side subset of dq_checks — the same
    contract, checked independently through the streaming path."""
    from .streaming.incremental import replay_dq_counters

    d = _docs(spark, sf_dir)
    stage = _proc_stage_dir(sf_dir, "dq_replay")
    return replay_dq_counters(spark, d, stage)


# the documents-side subset of SQL_DQ_CHECKS, verbatim (the orders-side
# checks have no streaming counterpart here)
SQL_STREAMING_DQ_CHECKS = """
SELECT 'doc_id_unique' AS check,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
         AS n_violations,
       coalesce(sum(CASE WHEN c > 1 THEN c END), 0) = 0 AS passed
FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY doc_id)
UNION ALL
SELECT 'text_not_null', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'lang_in_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'n_chars_matches_text', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars != len(coalesce(text, ''))
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN n_chars != len(coalesce(text, ''))
                THEN 1 ELSE 0 END) = 0
FROM documents
"""


def q_streaming_hll_users(spark, sf_dir):
    """Per-hour distinct-user HLL estimates computed as a REAL
    multi-batch stream: events replay in 3 event_id-sharded
    micro-batches; fixed-size register state (hours × 256 rows) folds
    across exactly-once COW epochs by groupBy max — the mergeable-
    sketch property is exactly what makes the streaming answer equal
    the one-shot batch sketch, which the DuckDB twin re-derives from
    scratch (md5 registers + the shared hll_estimator_ctes fragment)."""
    from .streaming.incremental import replay_hll_users

    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stage = _proc_stage_dir(sf_dir, "hll_replay")
    return replay_hll_users(spark, e, stage)


def _sql_streaming_hll_users() -> str:
    from .operators.sketches import (
        hll_estimator_ctes,
        hll_reg_sql,
        hll_rho_sql,
    )

    est_ctes = hll_estimator_ctes("regs", ["hour_id"], "est_distinct_users")
    return f"""
WITH ev AS (
  SELECT epoch_us(ts) // 3600000000 AS hour_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL
), regs AS (
  SELECT hour_id, {hll_reg_sql('h')} AS reg,
         max({hll_rho_sql('h')}) AS rho
  FROM ev GROUP BY 1, 2
), {est_ctes}
SELECT hour_id, est_distinct_users FROM hll_est
"""


def q_streaming_merge_upsert(spark, sf_dir):
    """The same CDC MERGE applied as a REAL multi-batch stream: the
    change batch is staged as one shard per seq class (deletes, then
    updates, then inserts — ascending mtimes, one file per trigger) and
    folded into a copy-on-write snapshot chain by exactly-once
    foreachBatch epochs (streaming/incremental.streaming_merge_upsert).
    Sequential application of the seq-ordered shards is provably
    equivalent to the one-shot latest-change-wins merge (a later epoch's
    upsert replaces an earlier epoch's delete exactly as the higher seq
    wins in one batch; insert keys are disjoint), so the final streamed
    snapshot must hash-match SQL_MERGE_UPSERT — the same oracle, checked
    independently through the streaming path."""
    from .streaming.incremental import replay_merge_upsert

    d = _docs(spark, sf_dir)
    stage = _proc_stage_dir(sf_dir, "cdc_replay")
    ddl = (
        "op string, seq int, doc_id long, text string, lang string, "
        "source string, n_chars long"
    )
    return replay_merge_upsert(
        spark, d, _cdc_changes(d), ddl, "doc_id", stage
    )


SQL_MERGE_UPSERT = """
WITH changes AS (
  SELECT 'D' AS op, 1 AS seq, doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT 'U', 2, doc_id, upper(text), lang, 'cdc_update', n_chars
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'I', 3, doc_id + 1000000,
         'inserted for ' || CAST(doc_id AS VARCHAR), lang, 'cdc_insert',
         CAST(length('inserted for ' || CAST(doc_id AS VARCHAR)) AS BIGINT)
  FROM documents WHERE doc_id % 11 = 3
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS _rn
    FROM changes) WHERE _rn = 1
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN latest l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
UNION ALL
SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op <> 'D'
"""


def q_scd2_intervals(spark, sf_dir):
    """Kimball SCD2 attribute history from the event log: per user, the
    regimes of consecutive event_type values as [valid_from, valid_to)
    intervals with an is_current flag (operators/cdc.scd2_intervals) —
    the dimension-history companion of the CDC merge. Interval bounds
    are emitted as exact integer microseconds (the repo's timestamp
    convention — raw timestamps drift through engine/session timezones,
    unix_micros does not)."""
    from .operators.cdc import scd2_intervals

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    iv = scd2_intervals(ev, "user_id", "ts", "event_type")
    return iv.select(
        "user_id",
        "attr",
        # NTZ -> UTC timestamp cast is the identity under the session's
        # pinned UTC timezone; unix_micros then yields exact integers
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
        "is_current",
    )


def q_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance of an aggregate: a previously
    materialized per-(lang, source) state (docs with even doc_id — the
    standing snapshot) is FOLDED together with the new batch's partial
    state (odd doc_id) by merging mergeable partials (count→sum,
    sum→sum, max→max, min→min) — the snapshot is never rescanned. At
    100 TB this is the only viable shape for a maintained rollup: the
    delta is partial-aggregated map-side and the merge shuffles one row
    per (grain, batch). The oracle recomputes the rollup from ALL rows
    directly — the hash match proves merge(state, delta) ≡ recompute."""
    d = _docs(spark, sf_dir)

    def partial(df):
        return df.groupBy("lang", "source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("n_chars").alias("max_chars"),
            F.min("n_chars").alias("min_chars"),
        )

    state = partial(d.where(F.col("doc_id") % 2 == 0))
    delta = partial(d.where(F.col("doc_id") % 2 == 1))
    return (
        state.unionByName(delta)
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_chars").alias("sum_chars"),
            F.max("max_chars").alias("max_chars"),
            F.min("min_chars").alias("min_chars"),
        )
    )


SQL_INCREMENTAL_ROLLUP = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       max(n_chars) AS max_chars, min(n_chars) AS min_chars
FROM documents GROUP BY lang, source
"""


def q_source_except(spark, sf_dir):
    """SURVEY §2.8 set-op coverage (absent in the reference, free in
    Spark): the multiset of (lang, n_chars) shapes present in src0 but
    not covered one-for-one by src1 — exceptAll keeps duplicates by
    multiplicity, which a dedup pipeline uses to diff two corpus
    snapshots shape-by-shape."""
    d = _docs(spark, sf_dir)
    a = d.where(F.col("source") == "src0").select("lang", "n_chars")
    b = d.where(F.col("source") == "src1").select("lang", "n_chars")
    return a.exceptAll(b)


SQL_SOURCE_EXCEPT = """
SELECT lang, n_chars FROM documents WHERE source = 'src0'
EXCEPT ALL
SELECT lang, n_chars FROM documents WHERE source = 'src1'
"""


SQL_SCD2_INTERVALS = """
WITH marked AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_type ASC) AS _prev
  FROM events
), chg AS (
  SELECT user_id, ts, event_type FROM marked
  WHERE _prev IS NULL OR event_type <> _prev
)
SELECT user_id, event_type AS attr, epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_type ASC) AS valid_to_us,
       CAST(lead(ts) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_type ASC) IS NULL AS INT)
         AS is_current
FROM chg
"""


def q_incremental_assign(spark, sf_dir):
    """Incremental cluster assignment (the micro-batch companion of CC):
    EVEN doc_ids form the standing corpus — clustered by connected
    components over the exact n-gram-Jaccard edges among them, every even
    doc assigned (its component's min string id, or itself when isolated).
    ODD doc_ids arrive as "new" records: each joins the cluster of its
    best-scoring existing match (ties broken by cluster_id), matchless
    ones become singletons. One join + one window argmax — no iteration,
    so it runs inside a stream micro-batch; cross-cluster merge evidence
    is deferred to the next batch recluster (clustering.incremental_assign
    returns it as merge_hints; tested in tests/test_clustering.py)."""
    from .operators.clustering import incremental_assign

    d = _docs(spark, sf_dir).select("doc_id")
    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    ee = pairs.where(
        (F.col("id1") % 2 == 0) & (F.col("id2") % 2 == 0)
    ).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    cc = connected_components(ee)
    existing = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").cast("string").alias("record_id"))
        .join(cc, "record_id", "left")
        .select(
            "record_id",
            F.coalesce("cluster_id", "record_id").alias("cluster_id"),
        )
    )
    odd1 = F.col("id1") % 2 == 1
    ne = pairs.where(odd1 != (F.col("id2") % 2 == 1)).select(
        F.when(odd1, F.col("id1")).otherwise(F.col("id2"))
        .cast("string").alias("id_new"),
        F.when(odd1, F.col("id2")).otherwise(F.col("id1"))
        .cast("string").alias("id_existing"),
        F.col("jaccard").alias("score"),
    )
    new_ids = d.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").cast("string").alias("record_id")
    )
    out = incremental_assign(ne, existing, new_ids=new_ids)
    return out["assignments"].select("record_id", "cluster_id")


def q_streaming_er_assign(spark, sf_dir):
    """The incremental-ER front run as a REAL stream (foreachBatch,
    availableNow): odd doc_ids arrive as the new-page stream, even doc_ids
    are the standing corpus — MinHash near-dup edges vs the cached corpus
    index, n-gram-Jaccard verified at 0.2, then argmax cluster assignment.
    Semantics match q_incremental_assign's batch chain except the edge set:
    the batch twin uses (lang, first-token)-blocked exact pairs, while the
    stream discovers edges by MinHash banding. FULL value oracle
    (SQL_STREAMING_ER_ASSIGN): the md5-minhash bands are exact in SQL, so
    DuckDB re-derives the stream's entire computation — band collisions
    odd-vs-even, index-side bucket cap, unrounded 5-gram Jaccard verify at
    0.2, window argmax against the recursive-CTE corpus clustering — and
    the exactly-once streamed appends must hash-match it."""
    import shutil

    from .streaming.incremental import streaming_er_assign

    docs_path = os.path.join(sf_dir, "documents.parquet")
    d = _docs(spark, sf_dir)
    corpus = d.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    ee = pairs.where(
        (F.col("id1") % 2 == 0) & (F.col("id2") % 2 == 0)
    ).select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    assignments = corpus.select(F.col("doc_id").alias("record_id")).join(
        connected_components(ee), "record_id", "left"
    ).select(
        "record_id", F.coalesce("cluster_id", "record_id").alias("cluster_id")
    )
    stage = _proc_stage_dir(sf_dir, "er_stream")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(docs_path), link)
    out_dir = _proc_stage_dir(sf_dir, "er_front")
    shutil.rmtree(out_dir, ignore_errors=True)  # appends must not accumulate
    stream = (
        spark.readStream.schema(DOCS_DDL)
        .parquet(stage)
        .where(F.col("doc_id") % 2 == 1)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    out = streaming_er_assign(
        spark, stream, corpus, assignments, out_dir,
        jaccard_threshold=0.2,
    )
    return out["assignments"].select("record_id", "cluster_id")


def _streaming_er_sql() -> str:
    """Full DuckDB oracle for q_streaming_er_assign: the SQL_INCREMENTAL_
    ASSIGN skeleton (even-even 5-gram-Jaccard CC for the standing
    assignments, window argmax for the new records) with the new-edge CTE
    replaced by the stream's ACTUAL edge discovery — exact md5-minhash
    band collisions (126 perms / 21 bands, the _minhash_band_ctes twin of
    blocking.minhash_bands_udf) between odd (stream) and even (corpus
    index) docs, index-side bucket cap, then the unrounded 5-gram Jaccard
    verify at 0.2 — the same UNROUNDED score the stream's argmax ranks."""
    return f"""
WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id, {_gram5_sql('text')} AS gr FROM documents
), epairs AS (
  SELECT id1, id2 FROM (
    SELECT c.id1, c.id2,
           round(CAST(len(list_intersect(gl.gr, grr.gr)) AS DOUBLE)
                 / (len(gl.gr) + len(grr.gr)
                    - len(list_intersect(gl.gr, grr.gr))), 6) AS jaccard
    FROM cand c
    JOIN g gl ON gl.doc_id = c.id1
    JOIN g grr ON grr.doc_id = c.id2
  ) WHERE jaccard >= 0.2
), ee AS (
  SELECT CAST(id1 AS VARCHAR) AS u, CAST(id2 AS VARCHAR) AS v
  FROM epairs WHERE id1 % 2 = 0 AND id2 % 2 = 0
), esym AS (
  SELECT u, v FROM ee UNION SELECT v AS u, u AS v FROM ee
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN esym e ON r.v = e.u WHERE e.v != r.u
), cc AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), easgn AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS record_id,
         coalesce(cc.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.record_id = CAST(d.doc_id AS VARCHAR)
  WHERE d.doc_id % 2 = 0
), {_minhash_band_ctes(
    "(SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents)",
    "text", 126, 6)},
idxkept AS (
  SELECT band, key FROM mh_band WHERE CAST(doc_id AS BIGINT) % 2 = 0
  GROUP BY band, key HAVING count(*) <= 2000
), mhcand AS (
  SELECT DISTINCT o.doc_id AS id_new, e.doc_id AS id_existing
  FROM mh_band o
  JOIN idxkept k ON k.band = o.band AND k.key = o.key
  JOIN mh_band e ON e.band = o.band AND e.key = o.key
  WHERE CAST(o.doc_id AS BIGINT) % 2 = 1 AND CAST(e.doc_id AS BIGINT) % 2 = 0
), ne AS (
  SELECT id_new, id_existing, score FROM (
    SELECT m.id_new, m.id_existing,
           CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
             / (len(ga.gr) + len(gb.gr)
                - len(list_intersect(ga.gr, gb.gr))) AS score
    FROM mhcand m
    JOIN g ga ON CAST(ga.doc_id AS VARCHAR) = m.id_new
    JOIN g gb ON CAST(gb.doc_id AS VARCHAR) = m.id_existing
  ) WHERE score >= 0.2
), hit AS (
  SELECT ne.id_new, a.cluster_id, ne.score,
         row_number() OVER (PARTITION BY ne.id_new
                            ORDER BY ne.score DESC, a.cluster_id ASC) AS rn
  FROM ne JOIN easgn a ON a.record_id = ne.id_existing
), best AS (
  SELECT id_new AS record_id, cluster_id FROM hit WHERE rn = 1
)
SELECT record_id, cluster_id FROM best
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS record_id,
       CAST(doc_id AS VARCHAR) AS cluster_id
FROM documents
WHERE doc_id % 2 = 1
  AND CAST(doc_id AS VARCHAR) NOT IN (SELECT record_id FROM best)
"""


# (evaluated below the _gram5_sql/_minhash_band_ctes definitions:
#  SQL_STREAMING_ER_ASSIGN = _streaming_er_sql())


# same blocking + exact 5-gram Jaccard as SQL_NGRAM_JACCARD_PAIRS, split
# even (standing corpus, transitive-closure clustered) vs odd (new
# records, argmax-assigned); ids compared as VARCHAR exactly as the
# engine's string-keyed CC does
SQL_INCREMENTAL_ASSIGN = r"""
WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(text) - 4, 1) + 1),
                                      i -> substr(text, i, 5))) AS gr
  FROM documents
), pairs AS (
  SELECT id1, id2, jaccard FROM (
    SELECT c.id1, c.id2,
           round(CAST(len(list_intersect(gl.gr, grr.gr)) AS DOUBLE)
                 / (len(gl.gr) + len(grr.gr) - len(list_intersect(gl.gr, grr.gr))),
                 6) AS jaccard
    FROM cand c
    JOIN g gl ON gl.doc_id = c.id1
    JOIN g grr ON grr.doc_id = c.id2
  ) WHERE jaccard >= 0.2
), ee AS (
  SELECT CAST(id1 AS VARCHAR) AS u, CAST(id2 AS VARCHAR) AS v
  FROM pairs WHERE id1 % 2 = 0 AND id2 % 2 = 0
), esym AS (
  SELECT u, v FROM ee UNION SELECT v AS u, u AS v FROM ee
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN esym e ON r.v = e.u WHERE e.v != r.u
), cc AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), easgn AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS record_id,
         coalesce(cc.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.record_id = CAST(d.doc_id AS VARCHAR)
  WHERE d.doc_id % 2 = 0
), ne AS (
  SELECT CAST(CASE WHEN id1 % 2 = 1 THEN id1 ELSE id2 END AS VARCHAR) AS id_new,
         CAST(CASE WHEN id1 % 2 = 1 THEN id2 ELSE id1 END AS VARCHAR) AS id_existing,
         jaccard AS score
  FROM pairs WHERE (id1 % 2) + (id2 % 2) = 1
), hit AS (
  SELECT ne.id_new, a.cluster_id, ne.score,
         row_number() OVER (PARTITION BY ne.id_new
                            ORDER BY ne.score DESC, a.cluster_id ASC) AS rn
  FROM ne JOIN easgn a ON a.record_id = ne.id_existing
), best AS (
  SELECT id_new AS record_id, cluster_id FROM hit WHERE rn = 1
)
SELECT record_id, cluster_id FROM best
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS record_id,
       CAST(doc_id AS VARCHAR) AS cluster_id
FROM documents
WHERE doc_id % 2 = 1
  AND CAST(doc_id AS VARCHAR) NOT IN (SELECT record_id FROM best)
"""


SQL_CONNECTED_COMPONENTS = r"""
WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT CAST(l.doc_id AS VARCHAR) AS id1,
                  CAST(r.doc_id AS VARCHAR) AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), esym AS (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2 AS u, id1 AS v FROM pairs
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN esym e ON r.v = e.u WHERE e.v != r.u
)
SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
"""


SQL_CLUSTER_DENSITY = SQL_CONNECTED_COMPONENTS.replace(
    "SELECT u AS record_id, least(u, min(v)) AS cluster_id"
    " FROM reach GROUP BY u",
    r""", cc AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), sizes AS (
  SELECT cluster_id, count(*) AS n_nodes FROM cc GROUP BY cluster_id
), edges AS (
  SELECT cc.cluster_id, count(*) AS n_edges
  FROM pairs JOIN cc ON pairs.id1 = cc.record_id
  GROUP BY cc.cluster_id
)
SELECT s.cluster_id, s.n_nodes, e.n_edges,
       round(CAST(e.n_edges AS DOUBLE)
             / ((CAST(s.n_nodes AS BIGINT) * (s.n_nodes - 1)) // 2), 6)
         AS density,
       CASE WHEN round(CAST(e.n_edges AS DOUBLE)
             / ((CAST(s.n_nodes AS BIGINT) * (s.n_nodes - 1)) // 2), 6) < 0.5
            THEN 1 ELSE 0 END AS suspect
FROM sizes s JOIN edges e ON s.cluster_id = e.cluster_id
WHERE s.n_nodes >= 2
"""
)



def q_er_clusters_sql(spark, sf_dir):
    """End-to-end ER composite with a full DuckDB oracle: the same
    block -> candidates -> score -> threshold -> CC -> confidence ->
    assemble chain as the flagship, restricted to SQL-expressible pieces
    so every stage is value-checked — JVM-expression normalization
    (preprocess_expr; the corpus is ASCII so it equals the full UDF),
    first-2-token blocking (no MinHash bands), and the fixed logistic
    model over Jaro-Winkler + Levenshtein + token-count cosine (DuckDB has
    bit-parity jaro_winkler_similarity/levenshtein; the cosine is plain
    relational algebra over token counts)."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    title = F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ")
    records = d.select(
        "doc_id",
        preprocess_expr(title).alias("title_norm"),
        preprocess_expr("text").alias("body_norm"),
    )
    blocks = B.generate_blocks(
        records, "doc_id", {"t1": B.first_tokens("title_norm", 2)}
    )
    cands = B.candidate_pairs(blocks, max_block=500, salt_target=100)
    scored = score_pairs(
        cands, records, FLAGSHIP_MODEL, DOC_FIELDS, "doc_id", "_norm",
        lookup=track(try_build_lookup(records, "doc_id", DOC_FIELDS, "_norm")),
    )
    edges = scored.where(F.col("score") >= 0.5).localCheckpoint(eager=True)
    assign = member_confidence(connected_components(edges), edges)
    clusters = assemble_clusters(assign, records, "doc_id", ["doc_id"])
    return clusters.select(
        "cluster_id",
        "group_size",
        _r6(F.col("confidence_score")).alias("confidence_score"),
        F.array_join(
            F.transform("records", lambda r: r["record_id"]), ","
        ).alias("members"),
    )


# ---------------------------------------------------------------------------
# md5-reproducible sketch oracles (simhash / minhash / flagship)
#
# The sketch pipelines hash tokens/shingles with md5 prefixes
# (functions/strings.py _hash32/_hash64) precisely so DuckDB can recompute
# the SAME sketch bit-for-bit: md5 is the one high-quality hash both
# engines share on UTF-8 strings. These builders re-derive the minhash
# signatures / simhash bits in pure SQL, which upgrades the LSH queries
# from rows-only driver checks to full value oracles (VERDICT r2 item 3/4).
# ---------------------------------------------------------------------------

_HEXD = "'0123456789abcdef'"


def _hex_u31_sql(hcol: str) -> str:
    """BIGINT value of strings._hash32: first 8 hex chars of an md5 column,
    masked to 31 bits (mask keeps a*h+b inside signed-64 range)."""
    terms = " + ".join(
        f"(strpos({_HEXD}, substr({hcol}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({terms}) & 2147483647)"


def _md5_bit_sql(hcol: str, bvar: str) -> str:
    """Bit ``bvar`` (0 = LSB) of strings._hash64 = int(md5hex[:16], 16):
    hex char 16 - b//4 holds bits 4*(15-pos)..; shift b%4 inside the nibble."""
    return (
        f"(((strpos({_HEXD}, substr({hcol}, 16 - {bvar} // 4, 1)) - 1) "
        f">> ({bvar} % 4)) & 1)"
    )


def _perm_values_sql(num_perm: int, seed: int = 42) -> str:
    """Inline VALUES relation of the engine's minhash permutation params
    (strings.minhash_params — same seed, same RandomState draw)."""
    a, b = STR.minhash_params(num_perm, seed)
    rows = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(num_perm)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS perms(i, a, b))"


def _gram5_sql(col: str) -> str:
    """DuckDB twin of strings.char_shingles(col, 5): distinct character
    5-grams; a string of length <= 5 yields itself as the only shingle."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({col}) - 4, 1) + 1), i -> substr({col}, i, 5)))"
    )


def _minhash_band_ctes(src: str, col: str, num_perm: int, rows: int) -> str:
    """CTE chunk computing exact MinHash-LSH band membership
    (doc_id, band, key) for ``src(doc_id, col)`` — the SQL twin of
    blocking.minhash_bands_udf: distinct 5-gram shingles, md5-u31 shingle
    hash, (a*h+b) mod 2^31-1 permutations, min per (doc, perm), bands of
    ``rows`` consecutive permutations keyed by the signature values
    themselves (band keys collide in Spark via an FNV fold of the same
    values — equality of the value tuple IS band-bucket equality, modulo a
    2^-63 FNV collision)."""
    return f"""mh_g AS (
  SELECT doc_id, unnest({_gram5_sql(col)}) AS t
  FROM {src} WHERE len({col}) > 0
), mh_h AS (
  SELECT t, {_hex_u31_sql('md5(t)')} AS hv
  FROM (SELECT DISTINCT t FROM mh_g)
), mh_sig AS (
  SELECT g.doc_id, p.i, min((p.a * h.hv + p.b) % 2147483647) AS v
  FROM mh_g g JOIN mh_h h USING (t)
  CROSS JOIN {_perm_values_sql(num_perm)} p
  GROUP BY 1, 2
), mh_band AS (
  SELECT doc_id, i // {rows} AS band,
         array_to_string(list(v ORDER BY i), '-') AS key
  FROM mh_sig GROUP BY 1, 2
)"""


# simhash_pairs oracle: recompute the 64-bit simhash per document in SQL
# (md5-bit token hash, occurrence-weighted bit votes, two's-complement
# assembly so the value equals Spark's signed int64), then an EXACT
# hamming-distance self-join. The banded Spark plan equals the exact join
# by the chunk-PAIR pigeonhole bound: bands=8 with min_shared=2 needs
# bands >= max_hamming + 2 (8 >= 6 + 2) — at most 6 corrupted chunks
# leave >= 2 intact, so every within-threshold pair shares a 16-bit
# chunk-pair key — as long as no block exceeds max_block=2000, which the
# swept corpora (500 docs at the gate, 5,000 at sf0.1) cannot.
SQL_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
    FROM documents WHERE trim(text) != ''
  )
  GROUP BY 1, 2
), th AS (
  SELECT t, md5(t) AS h FROM (SELECT DISTINCT t FROM tok)
), bitsum AS (
  SELECT tok.doc_id, bb.b,
         sum(tok.c * (2 * {_md5_bit_sql('th.h', 'bb.b')} - 1)) AS s
  FROM tok JOIN th USING (t)
  CROSS JOIN (SELECT unnest(range(64)) AS b) bb
  GROUP BY 1, 2
), sim AS (
  SELECT d.doc_id,
         coalesce(CAST(sum(CASE WHEN bs.s > 0 THEN
           CASE WHEN bs.b = 63 THEN -9223372036854775808
                ELSE (CAST(1 AS BIGINT) << bs.b) END
           ELSE 0 END) AS BIGINT), 0) AS sh
  FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
  LEFT JOIN bitsum bs USING (doc_id)
  GROUP BY 1
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 6
"""


# minhash_pairs oracle: exact SQL re-derivation of the banded candidates
# (see _minhash_band_ctes) followed by the same exact 5-gram Jaccard
# verification the Spark path applies — threshold on the UNROUNDED value,
# round(6) only in the projection, mirroring minhash_lsh_pairs.
SQL_MINHASH_PAIRS = f"""
WITH {_minhash_band_ctes(
    "(SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents)",
    "text", 126, 6)},
kept AS (
  SELECT mb.* FROM mh_band mb
  JOIN (SELECT band, key FROM mh_band GROUP BY 1, 2
        HAVING count(*) <= 2000) ok USING (band, key)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
), gr AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_gram5_sql('text')} AS gs
  FROM documents
)
SELECT id1, id2, round(jac, 6) AS jaccard FROM (
  SELECT c.id1, c.id2,
         CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
           / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jac
  FROM cand c
  JOIN gr a ON a.doc_id = c.id1
  JOIN gr b ON b.doc_id = c.id2
) WHERE jac >= 0.7
"""


def q_weighted_minhash_pairs(spark, sf_dir):
    """Multiplicity-aware near-dup pairs under the capped BAG Jaccard
    (Σ min / Σ max of capped token counts), threshold 4/5 compared by
    integer cross-multiply — the corpus's templated-page baseline sits
    at bag≈0.6 (where 5-gram set Jaccard puts it near 0.1), so 0.8 is
    where multiplicity-aware near-dup signal starts. Sketch =
    replication weighted MinHash (Chum et al. 2008): token×count →
    t#1..t#ĉ elements, the standard md5-u31 band kernel over the
    expansion; verify = exact relational bag intersection (no text
    re-reads). See operators/dedup.weighted_minhash_pairs."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    lk = D.weighted_verify_index(d, "doc_id", "text")
    if lk is not None:
        track(lk)
    return D.weighted_minhash_pairs(
        d, "doc_id", threshold=(4, 5), verify_lookup=lk
    )


# weighted_minhash_pairs oracle: re-derive the capped token bag, the
# replicated t#i element set, the exact md5-u31 affine-permutation band
# membership (the _minhash_band_ctes construction over the expansion),
# the capped+salted bucket self-join, and the exact relational bag
# verify — every kept pair's keep decision is the integer cross-multiply.
SQL_WEIGHTED_MINHASH_PAIRS = f"""
WITH wt AS (
  SELECT doc_id, t, least(CAST(count(*) AS BIGINT), 3) AS c
  FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents WHERE trim(text) != '')
  GROUP BY 1, 2
), mh_g AS (
  SELECT doc_id, t || '#' || CAST(r.i AS VARCHAR) AS t
  FROM wt CROSS JOIN (SELECT unnest(range(1, 4)) AS i) r
  WHERE r.i <= wt.c
), mh_h AS (
  SELECT t, {_hex_u31_sql('md5(t)')} AS hv
  FROM (SELECT DISTINCT t FROM mh_g)
), mh_sig AS (
  SELECT g.doc_id, p.i, min((p.a * h.hv + p.b) % 2147483647) AS v
  FROM mh_g g JOIN mh_h h USING (t)
  CROSS JOIN {_perm_values_sql(126)} p
  GROUP BY 1, 2
), mh_band AS (
  SELECT doc_id, i // 6 AS band,
         array_to_string(list(v ORDER BY i), '-') AS key
  FROM mh_sig GROUP BY 1, 2
), kept AS (
  SELECT mb.* FROM mh_band mb
  JOIN (SELECT band, key FROM mh_band GROUP BY 1, 2
        HAVING count(*) <= 2000) ok USING (band, key)
), cand AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
), sigm AS (
  -- two-stage prefilter: >= ceil(0.7*126)=89 agreeing signature
  -- positions gate the exact bag verify (dedup.WMH_SIG_PREFILTER)
  SELECT c.id1, c.id2
  FROM cand c
  JOIN mh_sig l ON l.doc_id = c.id1
  JOIN mh_sig r ON r.doc_id = c.id2 AND r.i = l.i AND r.v = l.v
  GROUP BY 1, 2
  HAVING count(*) >= 89
), sz AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS s FROM wt GROUP BY 1
), inter AS (
  SELECT c.id1, c.id2, CAST(sum(least(l.c, r.c)) AS BIGINT) AS inter
  FROM sigm c
  JOIN wt l ON l.doc_id = c.id1
  JOIN wt r ON r.doc_id = c.id2 AND r.t = l.t
  GROUP BY 1, 2
)
SELECT i.id1, i.id2,
       round(CAST(i.inter AS DOUBLE) / (sa.s + sb.s - i.inter), 6)
         AS bag_jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.id1
JOIN sz sb ON sb.doc_id = i.id2
WHERE i.inter * 5 >= (sa.s + sb.s - i.inter) * 4
"""


_IDX_PERMS = 48  # maintained-index signature width (the operator logic
# is width-independent; 48 keeps the rebuild oracle cheap at the gate)


def q_minhash_index_maintain(spark, sf_dir):
    """Incremental maintenance of the corpus MinHash SIGNATURE index
    under a change batch — the operational core of keeping a standing
    near-dup index alive without rebuilding it (the incremental_rollup
    contract applied to the LSH index): an md5-keyed deterministic
    change set (ids with 2-hex md5 prefix < '10' are UPDATED — text
    gains a suffix — and ids with prefix ≥ 'f8' are DELETED) is applied
    as ``base_index ▷ changed_ids ∪ sigs(updated docs)`` — the MinHash
    kernel runs ONLY over the ~1/16 updated slice, deletes are a pure
    anti-join, the standing index is never rescanned (here it is
    computed because no materialized state exists in a query contract,
    but the PLAN shape — anti-join + union of a delta — is the
    maintained one). The oracle REBUILDS the signature relation from
    scratch over the post-change corpus: the hash match proves
    maintain(base, Δ) ≡ rebuild. Signatures, not band keys, are the
    maintained value: (a·h+b) mod M minima are exact integers a SQL
    twin re-derives, where the engine's FNV band fold is not."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a_p, b_p = STR.minhash_params(_IDX_PERMS)

    def _sigs_fn(texts):
        import pandas as _pd

        return _pd.Series(STR.minhash_sigs_batch(texts, a_p, b_p))

    _sigs = pandas_udf(_sigs_fn, ArrayType(LongType()))

    sig_udf = _sigs.asNondeterministic()

    def sig_rel(df):
        return df.select(
            "doc_id", F.posexplode(sig_udf(F.col("text"))).alias("i", "v")
        )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("_h"),
    )
    base = sig_rel(d.select("doc_id", "text"))
    changed = d.where((F.col("_h") < "10") | (F.col("_h") >= "f8")).select(
        "doc_id"
    )
    updated = d.where(F.col("_h") < "10").select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text")
    )
    return (
        base.join(changed, "doc_id", "left_anti")
        .unionByName(sig_rel(updated))
        .select("doc_id", F.col("i").cast("int").alias("i"), "v")
    )


def _sql_minhash_index_maintain() -> str:
    return f"""
WITH post AS (
  SELECT doc_id,
         CASE WHEN h < '10' THEN text || ' updated' ELSE text END AS text
  FROM (SELECT doc_id, text,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
        FROM documents)
  WHERE h < 'f8'
), mh_g AS (
  SELECT doc_id, unnest({_gram5_sql('text')}) AS t
  FROM post WHERE len(text) > 0
), mh_h AS (
  SELECT t, {_hex_u31_sql('md5(t)')} AS hv
  FROM (SELECT DISTINCT t FROM mh_g)
), mh_sig AS (
  SELECT g.doc_id, p.i, min((p.a * h.hv + p.b) % 2147483647) AS v
  FROM mh_g g JOIN mh_h h USING (t)
  CROSS JOIN {_perm_values_sql(_IDX_PERMS)} p
  GROUP BY 1, 2
)
SELECT doc_id, CAST(i AS INTEGER) AS i, CAST(v AS BIGINT) AS v FROM mh_sig
"""


def q_dedup_provenance(spark, sf_dir):
    """Per-document dedup provenance — the "why did my page disappear"
    audit a corpus pipeline owes its users: each dedup family member's
    verdict on the SAME corpus (method attribution, deliberately not a
    sequential pipeline — the question answered is "which method would
    catch this doc", so each method sees the full corpus), folded into
    one reason per doc by fixed precedence exact > minhash > simhash >
    kept. Drop rule per method: keep-numeric-min-neighbor — a doc is
    dropped iff some pair partner has a numerically smaller id (the
    one-pass survivor policy; deterministic without a transitive
    closure). The oracle COMPOSES SQL_MINHASH_PAIRS and
    SQL_SIMHASH_PAIRS verbatim (the sketch_recall pattern: provenance
    can never drift from the methods it attributes)."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    lk = D.text_lookup(d, "doc_id", "text")
    if lk is not None:
        track(lk)
    mh = D.minhash_lsh_pairs(
        d, "doc_id", jaccard_threshold=0.7, verify_lookup=lk
    ).select("id1", "id2")
    sh = D.simhash_pairs(
        d, "doc_id", max_hamming=6, bands=8, min_shared=2
    ).select("id1", "id2")

    def dropped(pairs):
        both = pairs.select(
            F.col("id1").alias("a"), F.col("id2").alias("b")
        ).unionByName(
            pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
        )
        return (
            both.where(
                F.col("b").cast("long") < F.col("a").cast("long")
            )
            .select(F.col("a").alias("doc_id"))
            .distinct()
        )

    ex_min = (
        d.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min(F.col("doc_id").cast("long")).alias("keep"))
    )
    ex_dropped = (
        d.select(F.sha2("text", 256).alias("h"), "doc_id")
        .join(ex_min, "h")
        .where(F.col("doc_id").cast("long") != F.col("keep"))
        .select("doc_id")
        .distinct()
    )
    flag = lambda rel, name: rel.withColumn(name, F.lit(True))
    out = (
        d.select("doc_id")
        .join(flag(ex_dropped, "_ex"), "doc_id", "left")
        .join(flag(dropped(mh), "_mh"), "doc_id", "left")
        .join(flag(dropped(sh), "_sh"), "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.when(F.col("_ex"), "exact")
            .when(F.col("_mh"), "minhash")
            .when(F.col("_sh"), "simhash")
            .otherwise("kept")
            .alias("verdict"),
        )
    )
    return out


def _sql_dedup_provenance() -> str:
    return f"""
WITH mh_pairs AS MATERIALIZED (
  SELECT id1, id2 FROM ({SQL_MINHASH_PAIRS}) _m
), sh_pairs AS MATERIALIZED (
  SELECT id1, id2 FROM ({SQL_SIMHASH_PAIRS}) _s
), exd AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents d
  JOIN (SELECT sha256(text) AS h, min(doc_id) AS keep
        FROM documents GROUP BY 1) k
    ON sha256(d.text) = k.h AND d.doc_id != k.keep
), mhd AS (
  SELECT DISTINCT a AS doc_id FROM (
    SELECT id1 AS a, id2 AS b FROM mh_pairs
    UNION ALL SELECT id2, id1 FROM mh_pairs
  ) WHERE CAST(b AS BIGINT) < CAST(a AS BIGINT)
), shd AS (
  SELECT DISTINCT a AS doc_id FROM (
    SELECT id1 AS a, id2 AS b FROM sh_pairs
    UNION ALL SELECT id2, id1 FROM sh_pairs
  ) WHERE CAST(b AS BIGINT) < CAST(a AS BIGINT)
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN m.doc_id IS NOT NULL THEN 'minhash'
            WHEN s.doc_id IS NOT NULL THEN 'simhash'
            ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN exd e ON CAST(d.doc_id AS VARCHAR) = e.doc_id
LEFT JOIN mhd m ON CAST(d.doc_id AS VARCHAR) = m.doc_id
LEFT JOIN shd s ON CAST(d.doc_id AS VARCHAR) = s.doc_id
"""


def q_zipf_profile(spark, sf_dir):
    """Corpus frequency-spectrum profile (the Zipf/Heaps diagnostic a
    corpus curator reads to spot template mills and synthetic text):
    token corpus frequencies log2-binned by PURE INTEGER arithmetic
    (bin = length(bin(cf)) − 1 — binary digit count, no float log near
    a power of two), per-bin vocabulary size and total token mass, plus
    the OLS slope of ln(vocab) against bin as an exact
    numerator/denominator pair (the value_trend recipe: per-bin ln
    quantized to int64 micro-nats BEFORE the sums, slope rational until
    the final rounded division). A natural-language corpus shows the
    Zipf near-linear decay; a heavily templated one piles mass into
    high bins. Two stacked map-side-combinable groupBys + a 1-row
    broadcast for the slope."""
    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    cf = (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    binc = (F.length(F.bin(F.col("cf"))) - 1).cast("long")
    bins = cf.groupBy(binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("cf").cast("long").alias("total_cf"),
    )
    y = F.round(F.log(F.col("n_tokens").cast("double")) * 1e6, 0).cast(
        "long"
    )
    pts = bins.select("bin", "n_tokens", "total_cf", y.alias("_y"))
    stats = pts.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("bin").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("bin") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("bin") * F.col("bin")).alias("_sxx"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return pts.crossJoin(F.broadcast(stats)).select(
        "bin",
        "n_tokens",
        "total_cf",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
    )


SQL_ZIPF_PROFILE = r"""
WITH cf AS (
  SELECT t, CAST(count(*) AS BIGINT) AS cf
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        FROM documents
        WHERE text IS NOT NULL AND trim(text) != '')
  GROUP BY 1
), bins AS (
  SELECT CAST(length(bin(cf)) - 1 AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(cf) AS BIGINT) AS total_cf
  FROM cf GROUP BY 1
), pts AS (
  SELECT bin, n_tokens, total_cf,
         CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM bins
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(bin) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(bin * y) AS BIGINT) AS sxy,
         CAST(sum(bin * bin) AS BIGINT) AS sxx
  FROM pts
)
SELECT p.bin, p.n_tokens, p.total_cf,
       CAST(st.n * st.sxy - st.sx * st.sy AS BIGINT) AS slope_num,
       CAST(st.n * st.sxx - st.sx * st.sx AS BIGINT) AS slope_den
FROM pts p CROSS JOIN st
"""


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth profile — zipf_profile's companion
    diagnostic (V(n) ≈ K·n^β; natural text grows β≈0.4–0.6, template
    mills saturate early): four NESTED md5-keyed corpus prefixes
    (1/8 ⊂ 1/4 ⊂ 1/2 ⊂ all — the drift_psi/dsir slicing idiom), token
    mass and vocabulary per prefix computed from ONE token scan — each
    token carries its smallest containing prefix level (min over its
    docs), so V(L) is a cumulative count, never four rescans — plus β
    as the exact OLS numerator/denominator over the 4 log-log points
    (micro-nat quantized before the sums)."""
    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    h1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    level = (
        F.when(h1 < "2", 1)
        .when(h1 < "4", 2)
        .when(h1 < "8", 3)
        .otherwise(4)
        .cast("long")
    )
    toks = d.select(
        level.alias("lvl"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    per_tok = toks.groupBy("tok").agg(F.min("lvl").alias("minlvl"))
    vocab_new = per_tok.groupBy("minlvl").agg(
        F.count(F.lit(1)).cast("long").alias("v_new")
    )
    mass_new = toks.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("long").alias("m_new")
    )
    w = Window.orderBy("lvl").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        mass_new.join(
            vocab_new.withColumnRenamed("minlvl", "lvl"), "lvl", "left"
        )
        .select(
            "lvl",
            F.sum("m_new").over(w).alias("n_tokens"),
            F.sum(F.coalesce("v_new", F.lit(0))).over(w).alias("vocab"),
        )
    )
    lx = F.round(F.log(F.col("n_tokens").cast("double")) * 1e6, 0).cast(
        "long"
    )
    ly = F.round(F.log(F.col("vocab").cast("double")) * 1e6, 0).cast("long")
    p2 = pts.select("lvl", "n_tokens", "vocab", lx.alias("_x"), ly.alias("_y"))
    st = p2.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return p2.crossJoin(F.broadcast(st)).select(
        "lvl",
        "n_tokens",
        "vocab",
        num.cast("long").alias("beta_num"),
        den.cast("long").alias("beta_den"),
    )


SQL_HEAPS_LAW = r"""
WITH d AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' THEN 1
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' THEN 2
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' THEN 3
              ELSE 4 END AS lvl,
         text
  FROM documents WHERE text IS NOT NULL AND trim(text) != ''
), toks AS (
  SELECT lvl, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM d
), vocab_new AS (
  SELECT minlvl AS lvl, CAST(count(*) AS BIGINT) AS v_new
  FROM (SELECT tok, min(lvl) AS minlvl FROM toks GROUP BY 1) GROUP BY 1
), mass_new AS (
  SELECT lvl, CAST(count(*) AS BIGINT) AS m_new FROM toks GROUP BY 1
), pts AS (
  SELECT m.lvl,
         CAST(sum(m.m_new) OVER (ORDER BY m.lvl) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(v.v_new, 0)) OVER (ORDER BY m.lvl) AS BIGINT)
           AS vocab
  FROM mass_new m LEFT JOIN vocab_new v USING (lvl)
), p2 AS (
  SELECT lvl, n_tokens, vocab,
         CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(vocab AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM pts
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM p2
)
SELECT p.lvl, p.n_tokens, p.vocab,
       CAST(st.n * st.sxy - st.sx * st.sy AS BIGINT) AS beta_num,
       CAST(st.n * st.sxx - st.sx * st.sx AS BIGINT) AS beta_den
FROM p2 p CROSS JOIN st
"""


_SM_K = 128  # bottom-k per column pair for the resemblance estimate

# view B = customer with renamed, permuted columns; the matcher must
# recover this mapping from VALUES alone (instance-based matching)
_SM_TRUE_MAP = {
    "q1": "c_mktsegment",
    "q2": "c_custkey",
    "q3": "c_name",
    "q4": "c_nationkey",
    "q5": "c_acctbal",
}


def _sm_canon(col):
    """Canonical value string per column (cents for the double)."""
    if col == "c_acctbal":
        return F.round(F.col(col) * 100.0, 0).cast("long").cast("string")
    return F.col(col).cast("string")


def q_schema_match(spark, sf_dir):
    """Instance-based schema matching (Rahm & Bernstein 2001 taxonomy:
    the content-level matcher) — the data-integration step BEFORE any
    record linkage can run on two independently named sources: view A
    is the customer table; view B is the same data under renamed,
    permuted columns (_SM_TRUE_MAP — the fixture idiom); the matcher
    sees only values. Per (col_a, col_b) cell: bottom-k KMV resemblance
    of the canonical distinct value sets (md5-ranked union sample, the
    kmv_crawl_jaccard estimator per pair — at 100 TB each column
    reduces to a k-row sketch, and the 25-cell comparison never touches
    row counts), emitted as the exact integer (est_num, k_used) pair,
    with is_best marking the per-col_a argmax (ties by col_b name).
    The pytest asserts the argmax recovers the true permutation."""
    cols_a = list(_SM_TRUE_MAP.values())
    cust = _tbl(spark, sf_dir, "customer")
    ma = None
    for c in cols_a:
        part = cust.select(
            F.lit(c).alias("ca"), _sm_canon(c).alias("v")
        ).distinct()
        ma = part if ma is None else ma.unionByName(part)
    mb = None
    for bname, c in _SM_TRUE_MAP.items():
        part = cust.select(
            F.lit(bname).alias("cb"), _sm_canon(c).alias("v")
        ).distinct()
        mb = part if mb is None else mb.unionByName(part)
    names_b = F.array(*[F.lit(b) for b in sorted(_SM_TRUE_MAP)])
    names_a = F.array(*[F.lit(a) for a in cols_a])
    ga = ma.select("ca", "v", F.explode(names_b).alias("cb")).select(
        "ca", "cb", "v", F.lit(1).alias("a"), F.lit(0).alias("b")
    )
    gb = mb.select("cb", "v", F.explode(names_a).alias("ca")).select(
        "ca", "cb", "v", F.lit(0).alias("a"), F.lit(1).alias("b")
    )
    flags = (
        ga.unionByName(gb)
        .groupBy("ca", "cb", "v")
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
    )
    w = Window.partitionBy("ca", "cb").orderBy(F.md5("v"), "v")
    sample = flags.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= _SM_K
    )
    cells = sample.groupBy("ca", "cb").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("est_num"),
    )
    wbest = Window.partitionBy("ca").orderBy(
        F.col("est_num").desc(), F.col("cb").asc()
    )
    return cells.withColumn(
        "is_best", F.row_number().over(wbest) == 1
    ).select(
        F.col("ca").alias("col_a"),
        F.col("cb").alias("col_b"),
        "est_num",
        "k_used",
        "is_best",
    )


def _sql_schema_match() -> str:
    canon = {
        c: (
            "CAST(CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS VARCHAR)"
            if c == "c_acctbal"
            else f"CAST({c} AS VARCHAR)"
        )
        for c in _SM_TRUE_MAP.values()
    }
    ma = " UNION ALL ".join(
        f"SELECT DISTINCT '{c}' AS ca, {canon[c]} AS v FROM customer"
        for c in _SM_TRUE_MAP.values()
    )
    mb = " UNION ALL ".join(
        f"SELECT DISTINCT '{b}' AS cb, {canon[c]} AS v FROM customer"
        for b, c in _SM_TRUE_MAP.items()
    )
    blist = ", ".join(f"'{b}'" for b in sorted(_SM_TRUE_MAP))
    alist = ", ".join(f"'{a}'" for a in _SM_TRUE_MAP.values())
    return f"""
WITH ma AS ({ma}), mb AS ({mb}),
ga AS (
  SELECT ca, bb.cb, v, 1 AS a, 0 AS b
  FROM ma CROSS JOIN (SELECT unnest([{blist}]) AS cb) bb
), gb AS (
  SELECT aa.ca, cb, v, 0 AS a, 1 AS b
  FROM mb CROSS JOIN (SELECT unnest([{alist}]) AS ca) aa
), flags AS (
  SELECT ca, cb, v, max(a) AS a, max(b) AS b
  FROM (SELECT * FROM ga UNION ALL SELECT * FROM gb)
  GROUP BY 1, 2, 3
), sample AS (
  SELECT * FROM (
    SELECT ca, cb, a, b,
           row_number() OVER (PARTITION BY ca, cb
                              ORDER BY md5(v), v) AS rk
    FROM flags
  ) WHERE rk <= {_SM_K}
), cells AS (
  SELECT ca, cb, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(a * b) AS BIGINT) AS est_num
  FROM sample GROUP BY 1, 2
)
SELECT ca AS col_a, cb AS col_b, est_num, k_used,
       row_number() OVER (PARTITION BY ca
                          ORDER BY est_num DESC, cb ASC) = 1 AS is_best
FROM cells
"""


# candidate FDs probed over customer: the holding ones and the
# deliberately failing ones (the discovery must say which is which)
_FD_CANDIDATES = (
    ("c_custkey", "c_name"),
    ("c_custkey", "c_mktsegment"),
    ("c_name", "c_custkey"),
    ("c_nationkey", "c_mktsegment"),
    ("c_mktsegment", "c_nationkey"),
)


def q_fd_discovery(spark, sf_dir):
    """Functional-dependency discovery (the TANE/profiling primitive a
    data-integration pipeline runs before trusting a key): for each
    candidate X → Y, the violation count Σ_groups (distinct-Y − 1) —
    zero iff the FD holds exactly — plus group and distinct counts so
    near-FDs are visible. One map-side-combinable two-level aggregate
    per candidate (distinct per group, then sums); candidates share one
    scan per LHS via the unioned plan."""
    cust = _tbl(spark, sf_dir, "customer")
    out = None
    for x, y in _FD_CANDIDATES:
        g = (
            cust.groupBy(F.col(x).cast("string").alias("_x"))
            .agg(F.countDistinct(F.col(y)).cast("long").alias("_dy"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.col("_dy") - 1).cast("long").alias("n_violations"),
            )
            .select(
                F.lit(x).alias("lhs"),
                F.lit(y).alias("rhs"),
                "n_groups",
                "n_violations",
                (F.col("n_violations") == 0).alias("holds"),
            )
        )
        out = g if out is None else out.unionByName(g)
    return out


def _sql_fd_discovery() -> str:
    parts = []
    for x, y in _FD_CANDIDATES:
        parts.append(
            f"""SELECT '{x}' AS lhs, '{y}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(dy - 1) AS BIGINT) AS n_violations,
       sum(dy - 1) = 0 AS holds
FROM (SELECT CAST({x} AS VARCHAR) AS x, count(DISTINCT {y}) AS dy
      FROM customer GROUP BY 1)"""
        )
    return " UNION ALL ".join(parts)


# candidate unique column combinations: singles and pairs, holding and
# failing, over customer
_UCC_CANDIDATES = (
    ("c_custkey",),
    ("c_name",),
    ("c_nationkey",),
    ("c_mktsegment",),
    ("c_nationkey", "c_mktsegment"),
    ("c_name", "c_nationkey"),
)


def q_ucc_discovery(spark, sf_dir):
    """Unique-column-combination discovery — the third of Papenbrock's
    profiling trio (FD / IND / UCC; HyUCC): is a column set a KEY? For
    each candidate combo, the duplicate-row mass
    ``n_rows − n_distinct_combos`` (zero iff unique), computed as one
    map-side-combinable distinct-aggregate per candidate — the
    record_id-hazard question (sources/ingest P8) answered with data
    instead of hope."""
    cust = _tbl(spark, sf_dir, "customer")
    out = None
    for combo in _UCC_CANDIDATES:
        key = F.concat_ws(
            "", *[F.col(c).cast("string") for c in combo]
        )
        g = cust.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(key).cast("long").alias("n_distinct"),
        ).select(
            F.lit("+".join(combo)).alias("columns"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct"))
            .cast("long")
            .alias("n_dup_rows"),
            (F.col("n_rows") == F.col("n_distinct")).alias("unique"),
        )
        out = g if out is None else out.unionByName(g)
    return out


def _sql_ucc_discovery() -> str:
    parts = []
    for combo in _UCC_CANDIDATES:
        key = " || chr(1) || ".join(f"CAST({c} AS VARCHAR)" for c in combo)
        parts.append(
            f"""SELECT '{"+".join(combo)}' AS columns,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {key}) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT {key}) AS BIGINT) AS n_dup_rows,
       count(*) = count(DISTINCT {key}) AS "unique"
FROM customer"""
        )
    return " UNION ALL ".join(parts)


# candidate inclusion dependencies (FK discovery): holding and failing
_IND_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("customer", "c_nationkey", "orders", "o_custkey"),
)


def q_ind_discovery(spark, sf_dir):
    """Inclusion-dependency discovery (foreign-key inference, the
    SPIDER/profiling primitive behind automatic join suggestion): for
    each candidate A.col ⊆ B.col, the count of DISTINCT A-values
    missing from B (zero iff the IND holds) next to A's distinct count
    — near-INDs (dirty FKs) stay measurable. Each check is one
    distinct-projection per side + one left-anti join on the value —
    the smallest-possible scan shape; no row-level join ever forms.
    Includes the deliberately failing reverse/mismatched candidates so
    the discovery's discrimination is itself under test."""
    out = None
    for ta, ca, tb, cb in _IND_CANDIDATES:
        a = (
            _tbl(spark, sf_dir, ta)
            .select(F.col(ca).cast("long").alias("v"))
            .distinct()
        )
        b = (
            _tbl(spark, sf_dir, tb)
            .select(F.col(cb).cast("long").alias("v"))
            .distinct()
        )
        missing = a.join(b, "v", "left_anti")
        g = a.agg(F.count(F.lit(1)).cast("long").alias("n_distinct")).crossJoin(
            F.broadcast(
                missing.agg(
                    F.count(F.lit(1)).cast("long").alias("n_missing")
                )
            )
        ).select(
            F.lit(f"{ta}.{ca}").alias("lhs"),
            F.lit(f"{tb}.{cb}").alias("rhs"),
            "n_distinct",
            "n_missing",
            (F.col("n_missing") == 0).alias("holds"),
        )
        out = g if out is None else out.unionByName(g)
    return out


def _sql_ind_discovery() -> str:
    parts = []
    for ta, ca, tb, cb in _IND_CANDIDATES:
        parts.append(
            f"""SELECT '{ta}.{ca}' AS lhs, '{tb}.{cb}' AS rhs,
       (SELECT CAST(count(DISTINCT {ca}) AS BIGINT) FROM {ta})
         AS n_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT CAST({ca} AS BIGINT) AS v FROM {ta}) a
        WHERE a.v NOT IN (SELECT CAST({cb} AS BIGINT) FROM {tb}))
         AS n_missing,
       (SELECT count(*) FROM
          (SELECT DISTINCT CAST({ca} AS BIGINT) AS v FROM {ta}) a
        WHERE a.v NOT IN (SELECT CAST({cb} AS BIGINT) FROM {tb})) = 0
         AS holds"""
        )
    return " UNION ALL ".join(parts)


_SWEEP_PCTS = (70, 75, 80, 85, 90, 95)


def q_dedup_threshold_sweep(spark, sf_dir):
    """Threshold-sensitivity sweep — the tuning view a curator reads
    before fixing the near-dup cutoff: for each candidate threshold
    over the verified minhash pair relation, the surviving pair count
    and the corpus impact (docs dropped under the keep-numeric-min-
    neighbor survivor rule, docs kept). One explode of the per-pair
    threshold list followed by one groupBy — the sweep never rescans
    or re-verifies (the expensive relation is computed once); the
    jaccard compares as exact integer micros. Oracle composes
    SQL_MINHASH_PAIRS verbatim."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    lk = D.text_lookup(d, "doc_id", "text")
    if lk is not None:
        track(lk)
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", jaccard_threshold=0.7, verify_lookup=lk
    ).select(
        "id1",
        "id2",
        F.round(F.col("jaccard") * F.lit(1e6), 0).cast("long").alias("jm"),
    )
    n_docs = _docs(spark, sf_dir).count()
    th = F.array(*[F.lit(p) for p in _SWEEP_PCTS])
    kept = (
        pairs.select(
            "id1", "id2", "jm", F.explode(th).alias("pct")
        )
        .where(F.col("jm") >= F.col("pct") * 10000)
    )
    dropped = kept.select(
        "pct",
        F.greatest(
            F.col("id1").cast("long"), F.col("id2").cast("long")
        ).alias("loser"),
    )
    agg = kept.groupBy("pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    dagg = dropped.groupBy("pct").agg(
        F.countDistinct("loser").cast("long").alias("n_docs_dropped")
    )
    return (
        agg.join(dagg, "pct")
        .select(
            F.col("pct").cast("long").alias("threshold_pct"),
            "n_pairs",
            "n_docs_dropped",
            (F.lit(n_docs) - F.col("n_docs_dropped"))
            .cast("long")
            .alias("n_docs_kept"),
        )
    )


def _sql_dedup_threshold_sweep() -> str:
    pcts = ", ".join(str(p) for p in _SWEEP_PCTS)
    return f"""
WITH p AS MATERIALIZED (
  SELECT id1, id2,
         CAST(round(jaccard * 1e6, 0) AS BIGINT) AS jm
  FROM ({SQL_MINHASH_PAIRS}) _m
), kept AS (
  SELECT t.pct, p.id1, p.id2,
         greatest(CAST(p.id1 AS BIGINT), CAST(p.id2 AS BIGINT)) AS loser
  FROM p CROSS JOIN (SELECT unnest([{pcts}]) AS pct) t
  WHERE p.jm >= t.pct * 10000
)
SELECT CAST(pct AS BIGINT) AS threshold_pct,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT loser) AS BIGINT) AS n_docs_dropped,
       (SELECT CAST(count(*) AS BIGINT) FROM documents)
         - CAST(count(DISTINCT loser) AS BIGINT) AS n_docs_kept
FROM kept GROUP BY 1
"""


def q_cross_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication matrix — the content-farm detection
    view: verified near-dup pairs (the minhash_pairs relation) joined
    to each side's source label, counted per unordered (source_a ≤
    source_b) cell, with each source's doc total riding along so the
    off-diagonal mass is interpretable. Which crawl sources copy from
    each other is the question a corpus curator asks before weighting
    or dropping a source. The oracle composes SQL_MINHASH_PAIRS
    verbatim (the provenance composition rule)."""
    d = _spread(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    lk = D.text_lookup(d, "doc_id", "text")
    if lk is not None:
        track(lk)
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", jaccard_threshold=0.7, verify_lookup=lk
    ).select("id1", "id2")
    src = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id1"), F.col("source").alias("s1")
            ),
            "id1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id2"), F.col("source").alias("s2")
            ),
            "id2",
        )
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )
    totals = _docs(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        j.join(
            totals.select(
                F.col("source").alias("source_a"), F.col("n").alias("docs_a")
            ),
            "source_a",
        )
        .join(
            totals.select(
                F.col("source").alias("source_b"), F.col("n").alias("docs_b")
            ),
            "source_b",
        )
        .select("source_a", "source_b", "n_dup_pairs", "docs_a", "docs_b")
    )


def _sql_cross_source_dup_matrix() -> str:
    return f"""
WITH p AS MATERIALIZED (
  SELECT id1, id2 FROM ({SQL_MINHASH_PAIRS}) _m
), src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source FROM documents
), cells AS (
  SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b,
         CAST(count(*) AS BIGINT) AS n_dup_pairs
  FROM p JOIN src a ON a.doc_id = p.id1 JOIN src b ON b.doc_id = p.id2
  GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
)
SELECT c.source_a, c.source_b, c.n_dup_pairs,
       ta.n AS docs_a, tb.n AS docs_b
FROM cells c
JOIN tot ta ON ta.source = c.source_a
JOIN tot tb ON tb.source = c.source_b
"""


def q_sessionize(spark, sf_dir):
    """Event sessionization (the session-grouping op a training pipeline
    runs over interaction logs): per user, a new session starts when the
    gap since the previous event EXCEEDS 30 minutes (strict >: Spark's
    session_window merges an event landing exactly at the previous
    window's end — verified at the boundary in test_streaming). Classic
    lag + running-sum-of-starts windows,
    all built-in; microsecond-exact gap arithmetic on both engines
    (unix_micros / epoch_us)."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the parquet column is TIMESTAMP_NTZ; the session TZ is UTC so the
    # cast is identity and unix_micros gives exact integer microseconds
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    n = (
        e.withColumn("us", us)
        .withColumn("is_new", is_new)
        .withColumn(
            "sess_n",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return n.groupBy("user_id", "sess_n").agg(
        F.min("us").alias("start_us"),
        F.count("*").alias("n_events"),
        _r6((F.max("us") - F.min("us")) / 1_000_000.0).alias("duration_secs"),
        _r6(F.sum("value")).alias("sum_value"),
    ).select("user_id", "start_us", "n_events", "duration_secs", "sum_value")


SQL_SESSIONIZE = """
WITH o AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM o
), n AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess_n
  FROM s
)
SELECT user_id, min(us) AS start_us, count(*) AS n_events,
       round((max(us) - min(us)) / 1000000.0, 6) AS duration_secs,
       round(sum(value), 6) AS sum_value
FROM n GROUP BY user_id, sess_n
"""


def q_gap_fill_hourly(spark, sf_dir):
    """Gap-filled hourly resampling (the time-series REGULARIZATION op —
    downstream trend/forecast math needs explicit zero rows, not absent
    ones): per user, event counts and exact-cent value sums for EVERY
    hour between that user's first and last event, missing hours emitted
    as zeros. Spark has no generate_series relation; the fill is
    `sequence(min_hour, max_hour)` + one explode over the per-user span
    relation — |users| rows expand to |users|·span, then ONE
    (user_id, hour) key-local left join against the hourly aggregate.
    Hours are exact int64 hours-since-epoch (unix_micros div), values
    exact integer cents; nothing floats. Scale note: the fill volume is
    users × corpus-span-in-hours — bounded by wall time, not by event
    count; a per-user span cap is the guard if keys live for years."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    hour = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)).cast(
        "long"
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    base = e.select("user_id", hour.alias("h"), cents.alias("cents"))
    counts = base.groupBy("user_id", "h").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    spans = base.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    return grid.join(counts, ["user_id", "h"], "left").select(
        "user_id",
        F.col("h").alias("hour_idx"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("value_cents", F.lit(0)).cast("long").alias("value_cents"),
    )


SQL_GAP_FILL_HOURLY = """
WITH base AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
), counts AS (
  SELECT user_id, h, count(*) AS n_events,
         CAST(sum(cents) AS BIGINT) AS value_cents
  FROM base GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM base GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM spans
)
SELECT g.user_id, g.h AS hour_idx,
       CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events,
       CAST(coalesce(c.value_cents, 0) AS BIGINT) AS value_cents
FROM grid g LEFT JOIN counts c ON g.user_id = c.user_id AND g.h = c.h
"""


def q_coalesce_intervals(spark, sf_dir):
    """Overlapping-interval COALESCING (merge-spans — the op behind
    crawl-window consolidation, covered-byte-range accounting and
    retention dedup): each event opens a 30-minute interval
    [us, us+30min]; per user, transitively overlapping-or-touching
    intervals merge into one row. The classic single-pass form: a new
    merged group starts where the start exceeds the running max of all
    PREVIOUS ends (cummax window, 1-preceding frame), group id = running
    sum of starts — exactly the sessionize shuffle shape (ONE user-keyed
    exchange, two frames), never a self-join. All boundaries exact int64
    microseconds; (start, event_id) total order pins equal-start
    determinism. Differs from sessionization semantically: intervals
    merge on OVERLAP of fixed-width spans (end-extension), sessions on
    inter-EVENT gaps — e.g. back-to-back 25-min-apart events chain here
    only while each new start lands inside the extended cover."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    width = 30 * 60 * 1_000_000
    iv = e.select(
        "user_id",
        "event_id",
        us.alias("s"),
        (us + F.lit(width)).alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("x").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
    ).otherwise(0)
    n = iv.withColumn("is_new", is_new).withColumn(
        "grp",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return n.groupBy("user_id", "grp").agg(
        F.min("s").alias("start_us"),
        F.max("x").alias("end_us"),
        F.count("*").alias("n_merged"),
    ).select("user_id", "start_us", "end_us", "n_merged")


SQL_COALESCE_INTERVALS = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + 1800000000 AS x
  FROM events
), m AS (
  SELECT *, max(x) OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_max_end
  FROM iv
), f AS (
  SELECT *, CASE WHEN prev_max_end IS NULL OR s > prev_max_end
                 THEN 1 ELSE 0 END AS is_new
  FROM m
), n AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS UNBOUNDED PRECEDING) AS grp
  FROM f
)
SELECT user_id, min(s) AS start_us, max(x) AS end_us,
       count(*) AS n_merged
FROM n GROUP BY user_id, grp
"""


def q_streaming_sessionize(spark, sf_dir):
    """The SAME sessions discovered by Spark's stateful streaming operator:
    a real file-source stream through F.session_window (gap-merging state),
    availableNow, complete-mode sink. Must hash-match the batch lag/cumsum
    twin's oracle (SQL_SESSIONIZE) — session_window merges an event landing
    exactly at the previous window's end, so the batch rule is strict >."""
    from .streaming.incremental import replay_sessionize

    return replay_sessionize(spark, os.path.join(sf_dir, "events.parquet"))


def q_streaming_window_counts(spark, sf_dir):
    """Structured Streaming path, driver-checkable: the events table
    replayed through a real file-source stream (availableNow) into
    event-time 1-hour tumbling windows per event_type; the final
    complete-mode result must equal the batch aggregate (DuckDB twin)."""
    from .streaming.incremental import replay_windowed_event_counts

    return replay_windowed_event_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


SQL_STREAMING_WINDOW_COUNTS = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream INTERVAL join, driver-checkable: views
    and clicks replayed as two file-source streams, inner-joined per user
    with clicks attributed to any view of the previous 12 hours (both
    bounds inclusive). Inner joins emit on match — only outer joins hold
    rows for the watermark — so the bounded availableNow replay equals
    the batch join exactly; the watermark + time-range condition is what
    bounds the join state on an unbounded stream
    (streaming/incremental.replay_interval_join docstring)."""
    from .streaming.incremental import replay_interval_join

    return replay_interval_join(
        spark, os.path.join(sf_dir, "events.parquet")
    )


SQL_STREAMING_INTERVAL_JOIN = """
SELECT v.event_id AS view_id,
       c.event_id AS click_id,
       v.user_id AS user_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
"""


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def q_streaming_first_seen(spark, sf_dir):
    """CUSTOM stateful streaming operator (``applyInPandasWithState``):
    first-occurrence dedup with a user-defined per-key state counter.
    The documents replay as a 3-shard doc_id-ordered stream; dup families
    are injected deterministically (docs with doc_id%5<2 collapse onto 7
    template keys — identical string math in SQL — the rest key on
    md5(text)), so keys genuinely span micro-batches and the emitted set
    proves cross-batch state suppression. FULL value oracle: first_id is
    the global min doc_id per key, and n_first_batch is re-derived in SQL
    from the deterministic shard arithmetic (ceil-span ranges, min shard
    per key)."""
    from .streaming.incremental import replay_stateful_first_seen

    key = F.when(
        F.col("doc_id") % 5 < 2,
        F.concat(F.lit("tpl:"), (F.col("doc_id") % 7).cast("string")),
    ).otherwise(F.md5("text"))
    out = replay_stateful_first_seen(
        spark, os.path.join(sf_dir, "documents.parquet"), DOCS_DDL, key
    )
    return out.select("dup_key", "first_id", "n_first_batch")


SQL_STREAMING_FIRST_SEEN = """
WITH k AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 < 2 THEN 'tpl:' || CAST(doc_id % 7 AS VARCHAR)
              ELSE md5(text) END AS dup_key
  FROM documents
), bounds AS (
  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
), sh AS (
  SELECT k.doc_id, k.dup_key,
         CAST(floor((k.doc_id - b.lo)
                    / ceil((b.hi - b.lo + 1) / 3.0)) AS BIGINT) AS shard
  FROM k, bounds b
), firsts AS (
  SELECT dup_key, min(shard) AS first_shard, min(doc_id) AS first_id
  FROM sh GROUP BY dup_key
)
SELECT f.dup_key, f.first_id, count(*) AS n_first_batch
FROM firsts f
JOIN sh s ON s.dup_key = f.dup_key AND s.shard = f.first_shard
GROUP BY f.dup_key, f.first_id
"""


def q_streaming_minhash_pairs(spark, sf_dir):
    """Streaming near-dup: the documents table replayed as a file-source
    stream (availableNow) of "new pages" against ITSELF as the static
    corpus MinHash index — a stream-static band join + n-gram Jaccard
    verify, append mode. Restricted to id_new < id_corpus this equals the
    BATCH minhash pipeline's output exactly, so the streaming path shares
    the batch query's full DuckDB value oracle (SQL_MINHASH_PAIRS)."""
    from .streaming.incremental import replay_minhash_near_dup

    out = replay_minhash_near_dup(
        spark, os.path.join(sf_dir, "documents.parquet"), DOCS_DDL
    )
    return out.select(
        F.col("id_new").alias("id1"),
        F.col("id_corpus").alias("id2"),
        _r6(F.col("jaccard")).alias("jaccard"),
    )


_TITLE_SQL = (
    "array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 8), ' ')"
)


def _er_sql(minhash: bool) -> str:
    """DuckDB oracle for the block→score→threshold→CC→confidence→assemble
    chain. ``minhash=False`` is the SQL-restricted twin (t1 blocking only,
    the Spark side of er_clusters_sql); ``minhash=True`` adds the exact
    md5-minhash band blocks (96 perms, 16 bands over body_norm) and is the
    FULL oracle of the flagship q_er_clusters — whose Spark side uses the
    pandas-UDF normalizer, equal to this SQL normalization on ASCII corpora
    (asserted over the driver corpus in tests/test_normalize.py)."""
    mh_ctes = (
        ", " + _minhash_band_ctes("recs", "body_norm", 96, 6) if minhash else ""
    )
    mh_union = (
        "\n  UNION ALL\n  SELECT doc_id, 'mh:' || CAST(band AS VARCHAR) || ':' || key AS bk\n  FROM mh_band"
        if minhash
        else ""
    )
    return f"""
WITH RECURSIVE recs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         {preprocess_sql(_TITLE_SQL)} AS title_norm,
         {preprocess_sql('text')} AS body_norm
  FROM documents
){mh_ctes}, blk AS (
  SELECT doc_id,
         't1:' || array_to_string(list_slice(regexp_split_to_array(title_norm, ' '), 1, 2), ' ') AS bk
  FROM recs
), blk_ok AS (
  SELECT * FROM blk WHERE bk != 't1:' AND bk != 't1:N/A'{mh_union}
), kept AS (
  SELECT * FROM blk_ok WHERE bk IN (
    SELECT bk FROM blk_ok GROUP BY bk HAVING count(*) <= 500)
), pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), tok AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT doc_id, unnest(regexp_split_to_array(body_norm, ' ')) AS t FROM recs)
  GROUP BY doc_id, t
), nrm AS (
  SELECT doc_id, sqrt(sum(c * c)) AS nb FROM tok GROUP BY doc_id
), dots AS (
  SELECT p.id1, p.id2, sum(ta.c * tb.c) AS dot
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.id1
  JOIN tok tb ON tb.doc_id = p.id2 AND tb.t = ta.t
  GROUP BY p.id1, p.id2
), feat AS (
  SELECT p.id1, p.id2,
    CASE WHEN l.title_norm = 'N/A' OR r.title_norm = 'N/A' THEN 1.0 ELSE 0.0 END AS tmiss,
    CASE WHEN l.body_norm = 'N/A' OR r.body_norm = 'N/A' THEN 1.0 ELSE 0.0 END AS bmiss,
    jaro_winkler_similarity(l.title_norm, r.title_norm) AS jw,
    1.0 - CAST(levenshtein(l.title_norm, r.title_norm) AS DOUBLE)
          / greatest(greatest(len(l.title_norm), len(r.title_norm)), 1) AS lev,
    coalesce(d.dot, 0.0) / (nl.nb * nr.nb) AS cos
  FROM pairs p
  JOIN recs l ON l.doc_id = p.id1
  JOIN recs r ON r.doc_id = p.id2
  LEFT JOIN dots d ON d.id1 = p.id1 AND d.id2 = p.id2
  JOIN nrm nl ON nl.doc_id = p.id1
  JOIN nrm nr ON nr.doc_id = p.id2
), edges AS (
  SELECT * FROM (
    SELECT id1, id2,
      1.0 / (1.0 + exp(-(2.0*jw*(1.0-tmiss) + 2.0*lev*(1.0-tmiss) - 1.0*tmiss
                         + 6.0*cos*(1.0-bmiss) - 1.0*bmiss - 6.0))) AS score
    FROM feat
  ) WHERE score >= 0.5
), esym AS (
  SELECT id1 AS u, id2 AS v, score FROM edges
  UNION ALL
  SELECT id2 AS u, id1 AS v, score FROM edges
), reach AS (
  SELECT DISTINCT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN (SELECT DISTINCT u, v FROM esym) e
    ON r.v = e.u WHERE e.v != r.u
), comp AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), conf AS (
  SELECT u AS record_id, 1.0 - sqrt(avg(pow(1.0 - score, 2))) AS confidence
  FROM esym GROUP BY u
)
SELECT c.cluster_id,
       count(*) AS group_size,
       round(avg(f.confidence), 6) AS confidence_score,
       string_agg(c.record_id, ',' ORDER BY c.record_id) AS members
FROM comp c JOIN conf f ON f.record_id = c.record_id
GROUP BY c.cluster_id HAVING count(*) > 1
"""


SQL_ER_CLUSTERS_SQL = _er_sql(minhash=False)
SQL_ER_CLUSTERS = _er_sql(minhash=True)
SQL_STREAMING_ER_ASSIGN = _streaming_er_sql()
SQL_QUALITY_FILTER = _quality_filter_sql()
SQL_WINNOW_SPAN_PAIRS = _winnow_sql()


# ---------------------------------------------------------------------------
# training-shard assembly: sequence packing via distributed prefix sum
# ---------------------------------------------------------------------------


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: concatenate documents in id order and
    cut every 512 tokens; each document gets its (sequence, offset)
    placement — documents straddle boundaries, exactly like GPT-2/3 data
    prep. The global exclusive cumsum runs as a two-phase distributed
    scan (operators/packing.py), never a single-partition global window."""
    d = _docs(spark, sf_dir).select(
        "doc_id", T.token_count("text").alias("n_tokens")
    )
    return PK.pack_sequences(d, "doc_id", "n_tokens", budget=512)


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, {T.token_count_sql('text')} AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start,
       tok_start // 512 AS seq_id,
       tok_start % 512 AS seq_offset,
       CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
            ELSE tok_start // 512 END AS seq_end,
       CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
            ELSE tok_start // 512 END
         - tok_start // 512 + 1 AS n_seqs
FROM c
"""


# ---------------------------------------------------------------------------
# semantic dedup + clustering evaluation over the fixed quantizer cells
# ---------------------------------------------------------------------------

# shared DuckDB prelude: vectors + the md5-min fixed quantizer cells (the
# same derivation SQL_IVF_FIXED_TOPK value-checks), with the gold label
# carried through for the eval query
_SQL_FIXED_CELLS = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x*x))) AS nrm
  FROM embeddings
), cents AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid, e AS ce, nrm AS cnrm
  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, e, nrm
        FROM v ORDER BY h LIMIT 8)
), sim AS (
  SELECT v.vec_id, v.label, c.cid,
         list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1]*z[2]))
           / (v.nrm * c.cnrm) AS cos
  FROM v, cents c
), cells AS (
  SELECT vec_id, label, cid AS cell FROM (
    SELECT vec_id, label, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM sim) WHERE rn = 1
)
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): coarse-quantize embeddings into the
    8 md5-min fixed cells (the value-oracled quantizer from
    q_ivf_fixed_topk), then within each cell flag every vector whose best
    cosine to a lower-id cellmate >= 0.35 — keep-lowest-id semantic
    near-dup removal. Rows are the DROP list with provenance."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids(e, n_cells=8)
    cells = ANN.assign_cells(e, cents)
    return D.semantic_dup_candidates(cells, threshold=0.35)


SQL_SEMANTIC_DEDUP = (
    _SQL_FIXED_CELLS
    + """
, cv AS (
  SELECT c.vec_id, c.cell, v.e, v.nrm
  FROM cells c JOIN v ON v.vec_id = c.vec_id
), scored AS (
  SELECT b.vec_id, b.cell, a.vec_id AS dup_of,
         round(list_sum(list_transform(list_zip(a.e, b.e), z -> z[1]*z[2]))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM cv a JOIN cv b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT vec_id, cell, dup_of, cosine FROM (
  SELECT vec_id, cell, dup_of, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, dup_of ASC) AS rn
  FROM scored) WHERE rn = 1 AND cosine >= 0.35
"""
)


def q_cluster_eval(spark, sf_dir):
    """Pairwise clustering metrics of the fixed-quantizer cells against
    the gold embedding labels, via contingency counting — C(n,2) sums
    over joint/pred/gold group sizes, never a pair join (evalmetrics.py
    docstring: three map-side-combinable shuffles at any scale)."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids(e, n_cells=8)
    cells = ANN.assign_cells(e, cents)
    return EV.pairwise_cluster_metrics(cells, "cell", "label")


SQL_CLUSTER_EVAL = (
    _SQL_FIXED_CELLS
    + """
, joint AS (
  SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS tp
  FROM (SELECT count(*) AS n FROM cells GROUP BY cell, label)
), predp AS (
  SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS pred_pairs
  FROM (SELECT count(*) AS n FROM cells GROUP BY cell)
), truep AS (
  SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT count(*) AS n FROM cells GROUP BY label)
)
SELECT tp, pred_pairs, true_pairs,
       round(CASE WHEN pred_pairs = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / pred_pairs END, 6) AS pairwise_precision,
       round(CASE WHEN true_pairs = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / true_pairs END, 6) AS pairwise_recall,
       round(CASE WHEN tp = 0 THEN 0.0
             ELSE 2 * (CAST(tp AS DOUBLE) / pred_pairs)
                    * (CAST(tp AS DOUBLE) / true_pairs)
                  / (CAST(tp AS DOUBLE) / pred_pairs
                     + CAST(tp AS DOUBLE) / true_pairs) END, 6) AS pairwise_f1
FROM joint, predp, truep
"""
)


def q_bcubed_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 + Adjusted Rand Index of the SAME
    fixed-quantizer cells vs gold labels as cluster_eval — the
    record-level evaluation (Bagga & Baldwin 1998 / Amigó 2009) that,
    unlike pairwise F1, does not let one giant correct cluster drown
    out many small wrong ones. Per-cell rationals quantized to integer
    micro-units before the sum (operators/evalmetrics.bcubed_metrics),
    so the one-row result is bit-identical in DuckDB; contingency
    counting throughout — no pair join at any scale."""
    e = _emb(spark, sf_dir)
    cents = ANN.fixed_centroids(e, n_cells=8)
    cells = ANN.assign_cells(e, cents)
    return EV.bcubed_metrics(cells, "cell", "label")


SQL_BCUBED_EVAL = (
    _SQL_FIXED_CELLS
    + """
, cts AS (
  SELECT cell, label, count(*) AS n_ct FROM cells GROUP BY 1, 2
), ncs AS (
  SELECT cell, count(*) AS n_c FROM cells GROUP BY 1
), nts AS (
  SELECT label, count(*) AS n_t FROM cells GROUP BY 1
), j AS (
  SELECT n_ct, n_c, n_t FROM cts JOIN ncs USING (cell) JOIN nts USING (label)
), sums AS (
  SELECT
    CAST(coalesce(sum(CAST(round(n_ct * n_ct * 1000000.0 / n_c, 0) AS BIGINT)), 0) AS BIGINT) AS p_micro_sum,
    CAST(coalesce(sum(CAST(round(n_ct * n_ct * 1000000.0 / n_t, 0) AS BIGINT)), 0) AS BIGINT) AS r_micro_sum,
    CAST(coalesce(sum((n_ct * (n_ct - 1)) // 2), 0) AS BIGINT) AS tp
  FROM j
), nn AS (
  SELECT count(*) AS n_records FROM cells
), pp AS (
  SELECT CAST(coalesce(sum((n_c * (n_c - 1)) // 2), 0) AS BIGINT) AS pred_pairs FROM ncs
), tps AS (
  SELECT CAST(coalesce(sum((n_t * (n_t - 1)) // 2), 0) AS BIGINT) AS true_pairs FROM nts
)
SELECT n_records, p_micro_sum, r_micro_sum,
  round(CASE WHEN n_records = 0 THEN 0.0
        ELSE p_micro_sum / (1000000.0 * n_records) END, 6) AS bcubed_precision,
  round(CASE WHEN n_records = 0 THEN 0.0
        ELSE r_micro_sum / (1000000.0 * n_records) END, 6) AS bcubed_recall,
  round(CASE WHEN p_micro_sum = 0 OR r_micro_sum = 0 THEN 0.0
        ELSE ((2 * (p_micro_sum / (1000000.0 * n_records)))
              * (r_micro_sum / (1000000.0 * n_records)))
             / ((p_micro_sum / (1000000.0 * n_records))
                + (r_micro_sum / (1000000.0 * n_records))) END, 6) AS bcubed_f1,
  round(CASE WHEN n_records < 2 THEN 0.0
        WHEN (pred_pairs + true_pairs) / 2.0
             = (pred_pairs * true_pairs) / (n_records * (n_records - 1) / 2.0)
          THEN 1.0
        ELSE (tp - (pred_pairs * true_pairs)
                   / (n_records * (n_records - 1) / 2.0))
             / ((pred_pairs + true_pairs) / 2.0
                - (pred_pairs * true_pairs)
                  / (n_records * (n_records - 1) / 2.0)) END, 6) AS ari
FROM sums, nn, pp, tps
"""
)


# ---------------------------------------------------------------------------
# golden-record survivorship over the CC clusters
# ---------------------------------------------------------------------------


def q_cluster_canonicalize(spark, sf_dir):
    """Survivorship fusion: collapse every connected-components duplicate
    cluster to one canonical row — majority lang/source (ties: count
    desc, value asc) and a keep-longest representative (n_chars desc,
    doc_id asc). The classic last step of an ER pipeline: the fused
    'golden record' users export."""
    cl = q_connected_components(spark, sf_dir)  # (record_id, cluster_id)
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.col("doc_id"),
        "lang",
        "source",
        "n_chars",
    )
    members = cl.join(d, "record_id")
    return ASM.canonicalize_clusters(
        members,
        cluster_col="cluster_id",
        id_col="record_id",
        mode_cols=("lang", "source"),
        rep_order=(F.col("n_chars").desc_nulls_last(), F.col("doc_id").asc()),
    )


SQL_CLUSTER_CANONICALIZE = r"""
WITH RECURSIVE b AS (
  SELECT doc_id,
         concat_ws('|', lang, regexp_split_to_array(trim(text), '\s+')[1]) AS bk
  FROM documents
), kept AS (
  SELECT * FROM b WHERE bk IN (
    SELECT bk FROM b GROUP BY bk HAVING count(*) <= 100)
), pairs AS (
  SELECT DISTINCT CAST(l.doc_id AS VARCHAR) AS id1,
                  CAST(r.doc_id AS VARCHAR) AS id2
  FROM kept l JOIN kept r ON l.bk = r.bk AND l.doc_id < r.doc_id
), esym AS (
  SELECT id1 AS u, id2 AS v FROM pairs
  UNION
  SELECT id2 AS u, id1 AS v FROM pairs
), reach AS (
  SELECT u, v FROM esym
  UNION
  SELECT r.u, e.v FROM reach r JOIN esym e ON r.v = e.u WHERE e.v != r.u
), comp AS (
  SELECT u AS record_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), m AS (
  SELECT c.cluster_id, c.record_id, d.doc_id, d.lang, d.source, d.n_chars
  FROM comp c JOIN documents d ON CAST(d.doc_id AS VARCHAR) = c.record_id
), sz AS (
  SELECT cluster_id, count(*) AS n_members FROM m GROUP BY cluster_id
), lmode AS (
  SELECT cluster_id, lang AS canon_lang FROM (
    SELECT cluster_id, lang,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC,
                                       lang ASC NULLS LAST) AS rn
    FROM m GROUP BY cluster_id, lang) WHERE rn = 1
), smode AS (
  SELECT cluster_id, source AS canon_source FROM (
    SELECT cluster_id, source,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC,
                                       source ASC NULLS LAST) AS rn
    FROM m GROUP BY cluster_id, source) WHERE rn = 1
), rep AS (
  SELECT cluster_id, record_id AS rep_id FROM (
    SELECT cluster_id, record_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC NULLS LAST,
                                       doc_id ASC) AS rn
    FROM m) WHERE rn = 1
)
SELECT sz.cluster_id, sz.n_members, lmode.canon_lang,
       smode.canon_source, rep.rep_id
FROM sz
JOIN lmode USING (cluster_id)
JOIN smode USING (cluster_id)
JOIN rep USING (cluster_id)
"""


# deferred: _dsir_sql needs _hex_u31_sql, defined above this point
SQL_DSIR_SELECT = _dsir_sql()


# ---------------------------------------------------------------------------
# TPC-H shape family completion (Q2 / Q9 / Q11 / Q12 / Q20 shapes)
#
# The testdata has no partsupp table and lineitem carries no
# shipmode/commitdate/receiptdate, so — exactly as the Q4/Q17/Q21 shapes
# already did — these keep the reference query's PHYSICAL shape (the
# join/aggregation pattern that matters at 100 TB) and re-express the
# business predicate over the columns that exist. All money/quantity
# arithmetic is exact-integer (cents / basis-point units), the device
# that makes every other TPC-H twin here bit-identical in DuckDB.
# ---------------------------------------------------------------------------


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape — the correlated-MIN-subquery + join-back: for each
    qualifying part, the region's supplier(s) achieving the minimum unit
    cost, decorated with supplier attributes and top-100'd by account
    balance. partsupp is absent, so "cost" is the minimum observed
    lineitem price in cents per (part, supplier) — the min is computed
    over the SAME region-filtered offer set the join-back probes, which
    is the correlation Q2's inner subquery expresses. Physically: the
    fact aggregates once into the offers relation (map-side combinable),
    the per-part argmin is an aggregate OF that aggregate (tiny), and
    the join-back + supplier/nation/region decorations are all
    broadcasts — the fact table itself never joins anything. The sort
    key ends with (p_partkey, s_suppkey), the relation's primary key, so
    the LIMIT 100 frontier is engine-independent."""
    parts = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_size").isin(5, 15, 25, 35)
               & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_type")
    )
    region = (
        _tbl(spark, sf_dir, "region")
        .where(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    nation = _tbl(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = _tbl(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("s_acctbal") * 100.0, 0).cast("long").alias(
            "acctbal_cents"
        ),
        "n_name",
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100.0, 0)
        .cast("long")
        .alias("price_cents"),
    )
    offers = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(
            F.broadcast(supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey", "p_type")
        .agg(F.min("price_cents").alias("cost_cents"))
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("cost_cents").alias("min_cost")
    )
    out = (
        offers.join(F.broadcast(best), "l_partkey")
        .where(F.col("cost_cents") == F.col("min_cost"))
        .join(F.broadcast(supp), offers.l_suppkey == supp.s_suppkey)
        .select(
            "acctbal_cents",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "p_type",
            "cost_cents",
        )
    )
    return out.orderBy(
        F.col("acctbal_cents").desc(),
        F.col("n_name").asc(),
        F.col("s_name").asc(),
        F.col("p_partkey").asc(),
        F.col("s_suppkey").asc(),
    ).limit(100)


SQL_MIN_COST_SUPPLIER = """
WITH supp AS (
  SELECT s_suppkey, s_name,
         CAST(round(s_acctbal * 100.0, 0) AS BIGINT) AS acctbal_cents,
         n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
), offers AS (
  SELECT l_partkey, l_suppkey, p_type,
         min(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS cost_cents
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_size IN (5, 15, 25, 35) AND p_type = 'ECONOMY'
    AND l_suppkey IN (SELECT s_suppkey FROM supp)
  GROUP BY 1, 2, 3
), best AS (
  SELECT l_partkey, min(cost_cents) AS min_cost FROM offers GROUP BY 1
)
SELECT acctbal_cents, s_name, n_name,
       o.l_partkey AS p_partkey, s.s_suppkey, p_type, cost_cents
FROM offers o
JOIN best b ON o.l_partkey = b.l_partkey AND o.cost_cents = b.min_cost
JOIN supp s ON s.s_suppkey = o.l_suppkey
ORDER BY acctbal_cents DESC, n_name ASC, s_name ASC, p_partkey ASC,
         s_suppkey ASC
LIMIT 100
"""


def q_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape — profit by (supplier nation, order year) for a
    name-filtered part slice. partsupp's supplycost is absent, so the
    measure is discounted revenue in exact basis-point units (the Q3/Q5
    device) — the SHAPE is what's kept: a part-name filter that must
    reach the part scan and broadcast into the fact, supplier→nation as
    a second broadcast decoration, and the one genuinely fact-to-fact
    equi-join (lineitem⋈orders on orderkey) that at web scale runs
    co-partitioned — at test scale AQE is free to downgrade it to
    broadcast, which is the adaptive behavior you want."""
    parts = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp = _tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_u = (
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", rev_u.alias("rev_u")
    )
    orders = _tbl(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    j = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _r6(F.sum("rev_u") / 10000.0).alias("profit"),
        )
        .select("n_name", "o_year", "n_lineitems", "profit")
    )


SQL_NATION_PROFIT = """
SELECT n_name,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       count(*) AS n_lineitems,
       round(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100.0, 0) AS BIGINT)))
             / 10000.0, 6) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
"""


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape — the group-HAVING-against-a-global-scalar
    pattern: per-part inventory value restricted to ONE nation's
    suppliers, keeping parts whose value exceeds a fixed fraction of
    that same restricted total. partsupp is absent, so value is
    sum(price_cents · qty) over the nation's lineitems. The fraction is
    SCALE-STABLE (TPC-H itself divides its 0.0001 by SF for the same
    reason a fixed share empties at 100×): keep parts worth more than
    3× the MEAN part value, as the exact integer cross-multiplication
    value·n_parts > 3·total — no float division anywhere, so the
    frontier part set is engine-independent at every scale. Physically:
    one map-side-combinable
    groupBy builds the per-part values; the global total is an
    aggregate OF that aggregate (the 1-row scalar the plan-lint
    allowance names); the nation restriction broadcasts into the fact
    as a left-semi."""
    nat_supp = (
        _tbl(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 3)
        .select("s_suppkey")
    )
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
            * F.col("l_quantity").cast("long")
        ).alias("value_u"),
        "l_suppkey",
    )
    vals = (
        li.join(
            F.broadcast(nat_supp),
            li.l_suppkey == nat_supp.s_suppkey,
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.sum("value_u").alias("part_value_u"))
    )
    total = vals.agg(
        F.sum("part_value_u").alias("total_u"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("part_value_u") * F.col("n_parts") > 3 * F.col("total_u"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "part_value_u",
        )
        .orderBy(F.col("part_value_u").desc(), F.col("p_partkey").asc())
    )


SQL_IMPORTANT_PARTS = """
WITH vals AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS part_value_u
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, part_value_u
FROM vals, (SELECT CAST(sum(part_value_u) AS BIGINT) AS total_u,
                   count(*) AS n_parts FROM vals) t
WHERE part_value_u * n_parts > 3 * total_u
ORDER BY part_value_u DESC, p_partkey ASC
"""


def q_returnflag_priority(spark, sf_dir):
    """TPC-H Q12 shape — the CASE-sum pivot over a fact-to-fact
    semi-equi join: per lineitem category (returnflag stands in for the
    absent shipmode), how many of a year's shipments belong to
    high-priority vs low-priority orders. Both predicates (the shipdate
    window and the flag whitelist) must reach the lineitem scan; the
    orderkey join is fact-to-fact (co-partitioned at scale, AQE may
    broadcast at test scale); the priority CASE collapses map-side into
    two integer sums."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & F.col("l_returnflag").isin("R", "A")
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = _tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .select("l_returnflag", "high_line_count", "low_line_count")
        .orderBy("l_returnflag")
    )


SQL_RETURNFLAG_PRIORITY = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_returnflag IN ('R', 'A')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape — the nested aggregation-driven semi-join chain:
    suppliers in one region who DOMINATED the supply of some qualifying
    part over a year (shipped more than half that part's total —
    partsupp's availqty>0.5·sum becomes 2·supp_qty>part_total, exact
    integer). Physically the Q18 device twice: per-(part,supplier)
    quantity sums (map-side combinable), a per-part total that is an
    aggregate OF that aggregate, an integer cross-multiplied frontier,
    then DISTINCT supplier ids left-semi into the supplier dim with the
    region decoration broadcast."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    parts = (
        _tbl(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        _tbl(spark, sf_dir, "lineitem")
        .where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("long").alias("q"),
        )
    )
    sq = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("supp_qty"))
    )
    pt = sq.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dom = (
        sq.join(F.broadcast(pt), "l_partkey")
        .where(2 * F.col("supp_qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    region = (
        _tbl(spark, sf_dir, "region")
        .where(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    nation = _tbl(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = _tbl(spark, sf_dir, "supplier")
    return (
        supp.join(dom, supp.s_suppkey == dom.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.round(F.col("s_acctbal") * 100.0, 0)
            .cast("long")
            .alias("acctbal_cents"),
        )
        .orderBy("s_suppkey")
    )


SQL_DOMINANT_SUPPLIERS = """
WITH sq AS (
  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  GROUP BY 1, 2
), pt AS (
  SELECT l_partkey, CAST(sum(supp_qty) AS BIGINT) AS part_qty FROM sq GROUP BY 1
), dom AS (
  SELECT DISTINCT l_suppkey
  FROM sq JOIN pt USING (l_partkey)
  WHERE 2 * supp_qty > part_qty
)
SELECT s_suppkey, s_name, n_name,
       CAST(round(s_acctbal * 100.0, 0) AS BIGINT) AS acctbal_cents
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM dom)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def _released(fn):
    """Release the previous query's tracked caches/broadcasts + persistent
    RDDs at entry. Safe under the driver/bench/oracle_check build→collect→
    next loop (the previous result is fully consumed before the next build);
    without this, one 28-query session accumulates every operator cache in
    executor storage (VERDICT r2 item 6)."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        release_session_storage(spark)
        return fn(spark, sf_dir)

    return wrapper


QUERIES = {
    "normalize_docs": q_normalize_docs,
    "translit_fold": q_translit_fold,
    "union_scan": q_union_scan,
    "exact_dup_groups": q_exact_dup_groups,
    "block_candidates": q_block_candidates,
    # pay-as-you-go pair prioritization (wave classes, no global rank)
    "progressive_pairs": q_progressive_pairs,
    # cap-overflow-driven blocking-key refinement (3 unrolled levels)
    "adaptive_block_keys": q_adaptive_block_keys,
    # same pairs via a write-time bucketed block table (zero-shuffle
    # candidate generation — the rerun/incremental path at scale)
    "bucketed_candidates": q_bucketed_candidates,
    "cluster_assembly": q_cluster_assembly,
    "anti_join_removal": q_anti_join_removal,
    "semi_join_training": q_semi_join_training,
    "sort_by_confidence": q_sort_by_confidence,
    "match_score": q_match_score,
    "per_source_counts": q_per_source_counts,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "quality_scores": q_quality_scores,
    "jsonl_roundtrip": q_jsonl_roundtrip,
    # WARC archive round trip: sink → split-aware ranged re-read, byte sha
    "warc_roundtrip": q_warc_roundtrip,
    "repetition_scores": q_repetition_scores,
    "quality_filter": q_quality_filter,
    "url_canonical_dedup": q_url_canonical_dedup,
    "lang_id": q_lang_id,
    # lang_id confusion matrix vs the labeled column, integer recall
    "lang_confusion": q_lang_confusion,
    "window_interleave": q_window_interleave,
    "embedding_topk": q_embedding_topk,
    "empty_row_filter": q_empty_row_filter,
    "training_limit": q_training_limit,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    # soundex phonetic blocking over the corpus vocabulary (capped keys)
    "phonetic_pairs": q_phonetic_pairs,
    # exact prefix-filtered set-similarity self-join (no blocking loss)
    "set_similarity_join": q_set_similarity_join,
    "edit_distance_pairs": q_edit_distance_pairs,
    # Fellegi-Sunter probabilistic linkage weights (micro-nat quantized)
    "fs_match_weights": q_fs_match_weights,
    # Splink-style tf adjustment: rare-value agreement re-priced
    "fs_tf_weights": q_fs_tf_weights,
    # per-field weight waterfall (ER explainability)
    "fs_waterfall": q_fs_waterfall,
    # unsupervised EM fit of the FS mixture (pattern-histogram EM)
    "em_match_probability": q_em_match_probability,
    # reliability diagram of the EM posterior vs the ssjoin truth
    "match_calibration": q_match_calibration,
    # blocking reduction-ratio / pairs-completeness quality card
    "blocking_quality": q_blocking_quality,
    # z-order tiles + zone-map skip verdicts for a 2-d predicate
    "zorder_pruning": q_zorder_pruning,
    # FS Theorem-II accept/clerical/reject bands at target error rates
    "fs_decision_rules": q_fs_decision_rules,
    # sorted-neighborhood blocking via two-phase rank + range join
    "snm_pairs": q_snm_pairs,
    # meta-blocking: CBS edge weights + weighted-edge pruning
    "meta_blocking": q_meta_blocking,
    # one-pass HLL sketch rollup across three grains (GROUPING SETS)
    "hll_rollup": q_hll_rollup,
    # KMV bottom-k resemblance between crawls, exact truth alongside
    "kmv_crawl_jaccard": q_kmv_crawl_jaccard,
    # k-anonymity release audit over quasi-identifier tuples
    "k_anonymity": q_k_anonymity,
    # l-diversity audit: distinct + entropy diversity of the sensitive
    # attribute inside each quasi-identifier group
    "l_diversity": q_l_diversity,
    # t-closeness audit: exact-integer ordered-EMD per QI group
    "t_closeness": q_t_closeness,
    # binned point-in-interval range join (incident windows over events)
    "range_join_counts": q_range_join_counts,
    # count-min-sketch heavy hitters over the bigram stream
    "cms_heavy_hitters": q_cms_heavy_hitters,
    # Bloom-filter semi-join prefilter with exact FP accounting
    "bloom_semi_join": q_bloom_semi_join,
    # join-size estimation from CMS inner products
    "cms_join_size": q_cms_join_size,
    # sketch-method precision/recall scorecard vs the exact truth
    "sketch_recall": q_sketch_recall,
    # per-cluster edge density: transitive-closure over-merge triage
    "cluster_density": q_cluster_density,
    # KwikCluster correlation clustering: the over-merge-proof
    # alternative to CC on the same edges (unrolled-round oracle)
    "pivot_clusters": q_pivot_clusters,
    # McCallum canopy pre-blocking: overlapping cheap-metric canopies
    "canopy_blocks": q_canopy_blocks,
    # integer-arithmetic PageRank over the similarity graph (hub triage)
    "pagerank": q_pagerank,
    # bounded-round k-core peeling: the dense core of suspect clusters
    "k_core": q_k_core,
    # k-truss: edge-level dense-core triage (bounded peel rounds)
    "k_truss": q_k_truss,
    # per-node triangles + local clustering coefficient (bridge triage)
    "clustering_coefficient": q_clustering_coefficient,
    # synchronous label-propagation communities (member partition)
    "label_propagation": q_label_propagation,
    # lakehouse CDC MERGE (latest-change-wins upsert/delete)
    "merge_upsert": q_merge_upsert,
    # the same MERGE as exactly-once streaming COW snapshot epochs
    "streaming_merge_upsert": q_streaming_merge_upsert,
    # continuous DQ audit: keyed counter state folded across epochs
    "streaming_dq_checks": q_streaming_dq_checks,
    # streaming per-hour distinct-user HLL (mergeable register fold)
    "streaming_hll_users": q_streaming_hll_users,
    # Kimball SCD2 attribute-history intervals from the event log
    "scd2_intervals": q_scd2_intervals,
    # incremental view maintenance: merge(state, delta) == recompute
    "incremental_rollup": q_incremental_rollup,
    # multiset EXCEPT ALL corpus-snapshot diff (SURVEY §2.8 set ops)
    "source_except": q_source_except,
    # A-ES weighted sampling without replacement (md5 uniforms)
    "weighted_sample": q_weighted_sample,
    # pivot/crosstab with explicit value list
    "lang_pivot": q_lang_pivot,
    "containment_pairs": q_containment_pairs,
    # corpus-hygiene ops a training pipeline runs before ER
    "decontaminate_ngrams": q_decontaminate_ngrams,
    "dup_ngram_ratio": q_dup_ngram_ratio,
    # CCNet-style corpus-trained LM fit (nats/trigram + OOV fraction)
    "trigram_lm_score": q_trigram_lm_score,
    # C4/RefinedWeb-style domain-level URL filtering
    "domain_filter": q_domain_filter,
    "dup_span_scrub": q_dup_span_scrub,
    # tau=0.5 temperature domain rebalancing with pinned-order floats
    "mixture_sample": q_mixture_sample,
    # RAG-style overlapping token-window chunking (map-side only)
    "chunk_documents": q_chunk_documents,
    # CCNet stage-1 corpus-wide duplicated-line removal (keep-first)
    "dup_line_scrub": q_dup_line_scrub,
    "dedup_keep_best": q_dedup_keep_best,
    # exact skew-safe per-group top-k (two-phase salted windows)
    "grouped_topk": q_grouped_topk,
    # deterministic HLL cardinality sketch (md5 registers, int64 state)
    "hll_distinct": q_hll_distinct,
    # cross-crawl membership dedup (deterministic relational Bloom filter)
    "bloom_membership": q_bloom_membership,
    # BM25 keyword search (inverted-index-shaped plan, micro-unit scores)
    "bm25_search": q_bm25_search,
    # RRF hybrid of BM25 and embedding-cosine rankings
    "hybrid_search_rrf": q_hybrid_search_rrf,
    # MMR-diversified top-k re-ranking over the cosine candidate pool
    "mmr_diversify": q_mmr_diversify,
    # positional-postings exact phrase search
    "phrase_search": q_phrase_search,
    # as-of join via union + last-known-value window (no range explosion)
    "asof_join": q_asof_join,
    # exact grouped quantiles over the distinct-value count relation
    "grouped_quantiles": q_grouped_quantiles,
    # mergeable bottom-k md5 quantile sketch (state capped at k/group)
    "quantile_sketch": q_quantile_sketch,
    # one-scan table profiling (nulls, min/max, HLL distinct estimates)
    "profile_table": q_profile_table,
    # Deequ-style table-contract validation (audit-grade counts)
    "dq_checks": q_dq_checks,
    # the snapshot release gate: five governance verdicts, one relation
    "release_gate": q_release_gate,
    # per-group Tukey-fence outlier triage over exact-rank quartiles
    "value_outliers": q_value_outliers,
    # the multimodal decode chain value-oracled end to end: synthesized
    # BMP bytes through real sniff/decode/dhash vs the pixel formula
    "media_dhash": q_media_dhash,
    # the same hash oracle through the from-scratch PNG decoder
    "media_dhash_png": q_media_dhash_png,
    # the banded perceptual pair join vs a brute-force formula oracle
    "media_near_dup_pairs": q_media_near_dup_pairs,
    # the audio chain likewise: WAV bytes through real decode vs the
    # sample formula, exact-integer envelope
    "media_wav_envelope": q_media_wav_envelope,
    # TPC-H-shaped relational analytics over the driver's fact tables
    "pricing_summary": q_pricing_summary,
    "shipping_priority": q_shipping_priority,
    # TPC-H Q5 shape: 6-table local-supplier join, fact never shuffles
    "local_supplier_volume": q_local_supplier_volume,
    # TPC-H Q18 shape: aggregation-driven semi-join, partitioning reuse
    "large_order_customers": q_large_order_customers,
    # TPC-H Q17 shape: correlated scalar subquery as exact-integer
    # broadcast-aggregate join
    "small_quantity_revenue": q_small_quantity_revenue,
    # TPC-H Q4 shape: EXISTS fact-to-fact left-semi with non-equi residual
    "late_ship_priority": q_late_ship_priority,
    # TPC-H Q16 shape: NOT-IN anti-join + two-level distinct aggregate
    "supplier_diversity": q_supplier_diversity,
    # TPC-H Q21 shape: EXISTS + NOT-EXISTS co-partitioned fact self-join
    "waiting_suppliers": q_waiting_suppliers,
    # TPC-H Q22 shape: scalar-subquery threshold + NOT-EXISTS anti-join
    "idle_rich_customers": q_idle_rich_customers,
    # TPC-H Q7 shape: two-nation symmetric pair, equi joins + residual
    "nation_trade_volume": q_nation_trade_volume,
    # TPC-H Q6 shape: pure scan-efficiency filtered aggregate
    "revenue_forecast": q_revenue_forecast,
    # TPC-H Q8 shape: national market share, one-pass conditional sums
    "market_share": q_market_share,
    # TPC-H Q10 shape: returned-item revenue top-20
    "returned_customers": q_returned_customers,
    # TPC-H Q13 shape: LEFT join with condition-in-join, zero bucket
    "order_count_histogram": q_order_count_histogram,
    # TPC-H Q14 shape: promo share, numerator rides the denominator
    "promo_revenue_share": q_promo_revenue_share,
    # TPC-H Q15 shape: argmax by scalar subquery, exact-int ties
    "top_supplier": q_top_supplier,
    # TPC-H Q19 shape: disjunctive brackets as post-join residual
    "bracket_revenue": q_bracket_revenue,
    # TPC-H Q2 shape: correlated-min join-back + broadcast decorations
    "min_cost_supplier": q_min_cost_supplier,
    # TPC-H Q9 shape: profit by (supplier nation, order year)
    "nation_profit": q_nation_profit,
    # TPC-H Q11 shape: group HAVING vs a global scalar, exact-int share
    "important_parts": q_important_parts,
    # TPC-H Q12 shape: CASE-sum priority pivot over a fact-fact join
    "returnflag_priority": q_returnflag_priority,
    # TPC-H Q20 shape: nested agg-driven semi-join chain
    "dominant_suppliers": q_dominant_suppliers,
    # RANGE-interval trailing window (burst/rate accounting)
    "trailing_hour_activity": q_trailing_hour_activity,
    # HTML -> text extraction (built-in tier; UDF tier parity-tested)
    "html_text_extract": q_html_text_extract,
    # DSIR importance-weighted data selection (hashed n-gram buckets)
    "dsir_select": q_dsir_select,
    # PSI distribution-drift audit between md5-keyed crawl halves
    "drift_psi": q_drift_psi,
    # IBLT difference-digest set reconciliation between snapshots
    "iblt_reconcile": q_iblt_reconcile,
    # Sums truth discovery over conflicting annotator claims
    "truth_discovery": q_truth_discovery,
    # distributed BPE tokenizer training (corpus scanned once; merge
    # rounds on the vocab-bounded word relation)
    "bpe_merges": q_bpe_merges,
    # tokenizer APPLY: corpus token histogram under fixed merges
    "bpe_encode": q_bpe_encode,
    # JVM-side JSON field extraction + aggregation (semi-structured path)
    "json_extract_stats": q_json_extract_stats,
    # exact-cents trailing moving average (frame window)
    "moving_avg": q_moving_avg,
    # first-activity-week cohort retention matrix
    "cohort_retention": q_cohort_retention,
    # half-life engagement counters via integer bit shifts
    "decayed_activity": q_decayed_activity,
    # per-group OLS slope from exact-int sufficient statistics
    "value_trend": q_value_trend,
    # ordered view>click>purchase conversion funnel (per-user anchors)
    "session_funnel": q_session_funnel,
    # market-basket token co-occurrence with lift (no self-join)
    "token_cooccurrence": q_token_cooccurrence,
    # one-pass multi-grain rollup (single Expand + aggregation)
    "rollup_stats": q_rollup_stats,
    # the full CUBE of (lang, source) in the same one-pass plan
    "cube_stats": q_cube_stats,
    # within-language percent_rank/cume_dist curation percentiles
    "quality_percentile": q_quality_percentile,
    # balanced ntile output sharding with a per-shard manifest
    "even_shards": q_even_shards,
    # deterministic md5-rank stratified sampler over grouped_topk
    "stratified_sample": q_stratified_sample,
    "hash_split": q_hash_split,
    # training-shard assembly: GPT-style packing over a two-phase
    # distributed prefix sum (no single-partition global window)
    "pack_sequences": q_pack_sequences,
    # SemDeDup over the value-oracled fixed quantizer cells
    "semantic_dedup": q_semantic_dedup,
    # pairwise P/R/F1 by contingency counting — no pair materialization
    "cluster_eval": q_cluster_eval,
    # B-cubed + ARI over the same cells (record-level eval, no pair join)
    "bcubed_eval": q_bcubed_eval,
    # golden-record survivorship fusion of the CC clusters
    "cluster_canonicalize": q_cluster_canonicalize,
    "pii_scrub": q_pii_scrub,
    "winnow_span_pairs": q_winnow_span_pairs,
    # dedupe-signature blocking-key learning: unrolled greedy cover
    "predicate_learning": q_predicate_learning,
    "record_link_mutual": q_record_link_mutual,
    # iterated greedy 1:1 assignment over the same scored pairs
    "link_assignment": q_link_assignment,
    "cosine_pairs_exact": q_cosine_pairs_exact,
    "connected_components": q_connected_components,
    # single-linkage threshold sweep: nested CC levels over one edge pass
    "cluster_dendrogram": q_cluster_dendrogram,
    "incremental_assign": q_incremental_assign,
    # full value oracle: the md5-minhash edge discovery, unrounded Jaccard
    # verify AND the argmax assignment are all re-derived in SQL
    # (SQL_STREAMING_ER_ASSIGN) — the exactly-once streamed result must
    # hash-match the one-shot relational computation
    "streaming_er_assign": q_streaming_er_assign,
    "er_clusters_sql": q_er_clusters_sql,
    "sessionize": q_sessionize,
    # gap-filled hourly resample (explicit zero rows via sequence+explode)
    "gap_fill_hourly": q_gap_fill_hourly,
    # merge overlapping fixed-width spans per key (cummax window, no join)
    "coalesce_intervals": q_coalesce_intervals,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_window_counts": q_streaming_window_counts,
    # watermarked stream-stream interval join (view->click attribution)
    "streaming_interval_join": q_streaming_interval_join,
    "streaming_minhash_pairs": q_streaming_minhash_pairs,
    # custom per-key state via applyInPandasWithState (the escape hatch
    # for stateful logic the built-ins can't express), value-oracled
    "streaming_first_seen": q_streaming_first_seen,
    # md5-reproducible sketch pipelines (full SQL value oracles)
    "er_clusters": q_er_clusters,
    "minhash_pairs": q_minhash_pairs,
    # weighted (capped-bag-Jaccard) minhash near-dup
    "weighted_minhash_pairs": q_weighted_minhash_pairs,
    # incremental minhash signature-index maintenance (maintain ≡ rebuild)
    "minhash_index_maintain": q_minhash_index_maintain,
    "simhash_pairs": q_simhash_pairs,
    # per-doc dedup-method attribution with fixed reason precedence
    "dedup_provenance": q_dedup_provenance,
    # which sources copy from each other (near-dup pair source matrix)
    "cross_source_dup_matrix": q_cross_source_dup_matrix,
    # threshold-sensitivity sweep over the verified pair relation
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    # log2-binned token frequency spectrum with exact-int OLS slope
    "zipf_profile": q_zipf_profile,
    # vocabulary growth over nested md5 prefixes (Heaps beta rational)
    "heaps_law": q_heaps_law,
    # instance-based schema matching via per-pair KMV resemblance
    "schema_match": q_schema_match,
    # FD discovery: exact violation counts per candidate X → Y
    "fd_discovery": q_fd_discovery,
    # IND discovery: FK inference via distinct anti-join missing counts
    "ind_discovery": q_ind_discovery,
    # UCC discovery: is the column set a key (exact dup-row mass)
    "ucc_discovery": q_ucc_discovery,
    # non-SQL-expressible (rows-only driver check): random-hyperplane /
    # k-means++ sketches depend on RandomState normals SQL can't re-derive;
    # recall vs the exact twins is asserted in tests/test_dedup.py &
    # tests/test_ann.py instead
    "embedding_lsh_pairs": q_embedding_lsh_pairs,
    "ivf_topk": q_ivf_topk,
    # ...except with the quantizer frozen to the md5-min corpus rows the
    # whole IVF chain IS SQL-expressible — the value oracle for ivf_topk's
    # operators (fixed_centroids docstring)
    "ivf_fixed_topk": q_ivf_fixed_topk,
    "pq_adc_topk": q_pq_adc_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "ann_scorecard": q_ann_scorecard,
    "streaming_ivfpq_topk": q_streaming_ivfpq_topk,
    "lsh_bucket_clusters": q_lsh_bucket_clusters,
    "curation_decisions": q_curation_decisions,
}
QUERIES = {name: _released(fn) for name, fn in QUERIES.items()}

ORACLES = {
    "normalize_docs": SQL_NORMALIZE_DOCS,
    "translit_fold": _sql_translit_fold(),
    "union_scan": SQL_UNION_SCAN,
    "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
    "block_candidates": SQL_BLOCK_CANDIDATES,
    "progressive_pairs": SQL_PROGRESSIVE_PAIRS,
    "adaptive_block_keys": SQL_ADAPTIVE_BLOCK_KEYS,
    # pair-identical by construction — the bucketed path changes the
    # physical layout, not the semantics
    "bucketed_candidates": SQL_BLOCK_CANDIDATES,
    "cluster_assembly": SQL_CLUSTER_ASSEMBLY,
    "anti_join_removal": SQL_ANTI_JOIN_REMOVAL,
    "semi_join_training": SQL_SEMI_JOIN_TRAINING,
    "sort_by_confidence": SQL_SORT_BY_CONFIDENCE,
    "match_score": SQL_MATCH_SCORE,
    "per_source_counts": SQL_PER_SOURCE_COUNTS,
    "token_counts": SQL_TOKEN_COUNTS,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "quality_scores": SQL_QUALITY_SCORES,
    "jsonl_roundtrip": SQL_JSONL_ROUNDTRIP,
    "warc_roundtrip": SQL_WARC_ROUNDTRIP,
    "repetition_scores": SQL_REPETITION_SCORES,
    "quality_filter": SQL_QUALITY_FILTER,
    "url_canonical_dedup": SQL_URL_CANONICAL_DEDUP,
    "lang_id": SQL_LANG_ID,
    "lang_confusion": _sql_lang_confusion(),
    "window_interleave": SQL_WINDOW_INTERLEAVE,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "empty_row_filter": SQL_EMPTY_ROW_FILTER,
    "training_limit": SQL_TRAINING_LIMIT,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "phonetic_pairs": SQL_PHONETIC_PAIRS,
    "set_similarity_join": SQL_SET_SIMILARITY_JOIN,
    "edit_distance_pairs": SQL_EDIT_DISTANCE_PAIRS,
    "fs_match_weights": SQL_FS_MATCH_WEIGHTS,
    "fs_tf_weights": SQL_FS_TF_WEIGHTS,
    "fs_waterfall": SQL_FS_WATERFALL,
    "em_match_probability": SQL_EM_MATCH_PROBABILITY,
    "match_calibration": _sql_match_calibration().format(
        em=SQL_EM_MATCH_PROBABILITY
    ),
    "blocking_quality": SQL_BLOCKING_QUALITY,
    "zorder_pruning": SQL_ZORDER_PRUNING,
    "fs_decision_rules": SQL_FS_DECISION_RULES,
    "snm_pairs": SQL_SNM_PAIRS,
    "meta_blocking": SQL_META_BLOCKING,
    "hll_rollup": SQL_HLL_ROLLUP,
    "kmv_crawl_jaccard": SQL_KMV_CRAWL_JACCARD,
    "k_anonymity": SQL_K_ANONYMITY,
    "l_diversity": SQL_L_DIVERSITY,
    "t_closeness": SQL_T_CLOSENESS,
    "range_join_counts": SQL_RANGE_JOIN_COUNTS,
    "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS,
    "bloom_semi_join": SQL_BLOOM_SEMI_JOIN,
    "cms_join_size": SQL_CMS_JOIN_SIZE,
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "decontaminate_ngrams": SQL_DECONTAMINATE_NGRAMS,
    "dup_ngram_ratio": SQL_DUP_NGRAM_RATIO,
    "trigram_lm_score": SQL_TRIGRAM_LM_SCORE,
    "domain_filter": SQL_DOMAIN_FILTER,
    "dup_span_scrub": SQL_DUP_SPAN_SCRUB,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "dup_line_scrub": SQL_DUP_LINE_SCRUB,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "grouped_topk": SQL_GROUPED_TOPK,
    "hll_distinct": SQL_HLL_DISTINCT,
    "bloom_membership": SQL_BLOOM_MEMBERSHIP,
    "bm25_search": SQL_BM25_SEARCH,
    "hybrid_search_rrf": _sql_hybrid_search_rrf(),
    "mmr_diversify": _mmr_sql(),
    "phrase_search": SQL_PHRASE_SEARCH,
    "asof_join": SQL_ASOF_JOIN,
    "grouped_quantiles": SQL_GROUPED_QUANTILES,
    "quantile_sketch": SQL_QUANTILE_SKETCH,
    "profile_table": SQL_PROFILE_TABLE,
    "dq_checks": SQL_DQ_CHECKS,
    "value_outliers": SQL_VALUE_OUTLIERS,
    "media_dhash": SQL_MEDIA_DHASH,
    "media_dhash_png": SQL_MEDIA_DHASH,
    "media_near_dup_pairs": SQL_MEDIA_NEAR_DUP_PAIRS,
    "media_wav_envelope": SQL_MEDIA_WAV_ENVELOPE,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "large_order_customers": SQL_LARGE_ORDER_CUSTOMERS,
    "small_quantity_revenue": SQL_SMALL_QUANTITY_REVENUE,
    "late_ship_priority": SQL_LATE_SHIP_PRIORITY,
    "supplier_diversity": SQL_SUPPLIER_DIVERSITY,
    "waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "idle_rich_customers": SQL_IDLE_RICH_CUSTOMERS,
    "nation_trade_volume": SQL_NATION_TRADE_VOLUME,
    "revenue_forecast": SQL_REVENUE_FORECAST,
    "market_share": SQL_MARKET_SHARE,
    "returned_customers": SQL_RETURNED_CUSTOMERS,
    "order_count_histogram": SQL_ORDER_COUNT_HISTOGRAM,
    "promo_revenue_share": SQL_PROMO_REVENUE_SHARE,
    "top_supplier": SQL_TOP_SUPPLIER,
    "bracket_revenue": SQL_BRACKET_REVENUE,
    "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
    "nation_profit": SQL_NATION_PROFIT,
    "important_parts": SQL_IMPORTANT_PARTS,
    "returnflag_priority": SQL_RETURNFLAG_PRIORITY,
    "dominant_suppliers": SQL_DOMINANT_SUPPLIERS,
    "trailing_hour_activity": SQL_TRAILING_HOUR_ACTIVITY,
    "html_text_extract": SQL_HTML_TEXT_EXTRACT,
    "dsir_select": SQL_DSIR_SELECT,
    "drift_psi": SQL_DRIFT_PSI,
    "iblt_reconcile": _iblt_reconcile_sql(),
    "truth_discovery": _truth_discovery_sql(),
    "bpe_merges": SQL_BPE_MERGES,
    "bpe_encode": SQL_BPE_ENCODE,
    "json_extract_stats": SQL_JSON_EXTRACT_STATS,
    "moving_avg": SQL_MOVING_AVG,
    "cohort_retention": SQL_COHORT_RETENTION,
    "decayed_activity": SQL_DECAYED_ACTIVITY,
    "value_trend": SQL_VALUE_TREND,
    "session_funnel": SQL_SESSION_FUNNEL,
    "token_cooccurrence": SQL_TOKEN_COOCCURRENCE,
    "rollup_stats": SQL_ROLLUP_STATS,
    "cube_stats": SQL_CUBE_STATS,
    "quality_percentile": SQL_QUALITY_PERCENTILE,
    "even_shards": SQL_EVEN_SHARDS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "hash_split": SQL_HASH_SPLIT,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "cluster_eval": SQL_CLUSTER_EVAL,
    "bcubed_eval": SQL_BCUBED_EVAL,
    "cluster_canonicalize": SQL_CLUSTER_CANONICALIZE,
    "pii_scrub": SQL_PII_SCRUB,
    "winnow_span_pairs": SQL_WINNOW_SPAN_PAIRS,
    "record_link_mutual": SQL_RECORD_LINK_MUTUAL,
    "link_assignment": SQL_LINK_ASSIGNMENT,
    "cosine_pairs_exact": SQL_COSINE_PAIRS_EXACT,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "cluster_dendrogram": SQL_CLUSTER_DENDROGRAM,
    "cluster_density": SQL_CLUSTER_DENSITY,
    "pivot_clusters": SQL_PIVOT_CLUSTERS,
    "canopy_blocks": SQL_CANOPY_BLOCKS,
    "pagerank": SQL_PAGERANK,
    "k_core": SQL_K_CORE,
    "k_truss": SQL_K_TRUSS,
    "clustering_coefficient": SQL_CLUSTERING_COEFFICIENT,
    "label_propagation": SQL_LABEL_PROPAGATION,
    "merge_upsert": SQL_MERGE_UPSERT,
    # the streamed COW snapshot chain must equal the one-shot MERGE —
    # same oracle, checked independently (see q_streaming_merge_upsert)
    "streaming_merge_upsert": SQL_MERGE_UPSERT,
    "streaming_dq_checks": SQL_STREAMING_DQ_CHECKS,
    "streaming_hll_users": _sql_streaming_hll_users(),
    "scd2_intervals": SQL_SCD2_INTERVALS,
    "incremental_rollup": SQL_INCREMENTAL_ROLLUP,
    "source_except": SQL_SOURCE_EXCEPT,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "lang_pivot": SQL_LANG_PIVOT,
    "incremental_assign": SQL_INCREMENTAL_ASSIGN,
    "er_clusters_sql": SQL_ER_CLUSTERS_SQL,
    "sessionize": SQL_SESSIONIZE,
    "gap_fill_hourly": SQL_GAP_FILL_HOURLY,
    "coalesce_intervals": SQL_COALESCE_INTERVALS,
    # the streaming session_window replay must equal the batch lag/cumsum
    # sessionization — same oracle, checked independently
    "streaming_sessionize": SQL_SESSIONIZE,
    "streaming_window_counts": SQL_STREAMING_WINDOW_COUNTS,
    "streaming_interval_join": SQL_STREAMING_INTERVAL_JOIN,
    "streaming_first_seen": SQL_STREAMING_FIRST_SEEN,
    # the streaming replay provably equals the batch pipeline (see
    # q_streaming_minhash_pairs) — same oracle, checked independently
    "streaming_minhash_pairs": SQL_MINHASH_PAIRS,
    # the full streaming ER front: md5-minhash band edges + unrounded
    # Jaccard verify + argmax assignment, all re-derived in SQL
    "streaming_er_assign": SQL_STREAMING_ER_ASSIGN,
    "er_clusters": SQL_ER_CLUSTERS,
    "minhash_pairs": SQL_MINHASH_PAIRS,
    "weighted_minhash_pairs": SQL_WEIGHTED_MINHASH_PAIRS,
    "minhash_index_maintain": _sql_minhash_index_maintain(),
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "dedup_provenance": _sql_dedup_provenance(),
    "cross_source_dup_matrix": _sql_cross_source_dup_matrix(),
    "dedup_threshold_sweep": _sql_dedup_threshold_sweep(),
    "zipf_profile": SQL_ZIPF_PROFILE,
    "heaps_law": SQL_HEAPS_LAW,
    "schema_match": _sql_schema_match(),
    "fd_discovery": _sql_fd_discovery(),
    "ind_discovery": _sql_ind_discovery(),
    "ucc_discovery": _sql_ucc_discovery(),
    "embedding_lsh_pairs": SQL_EMBEDDING_LSH_PAIRS,
    "ivf_fixed_topk": SQL_IVF_FIXED_TOPK,
    "pq_adc_topk": SQL_PQ_ADC_TOPK,
    "ivfpq_topk": SQL_IVFPQ_TOPK,
    "ivfpq_residual_topk": SQL_IVFPQ_RESIDUAL_TOPK,
    "streaming_ivfpq_topk": SQL_STREAMING_IVFPQ_TOPK,
    "lsh_bucket_clusters": _lsh_bucket_sql(),
}

# composed from three member oracles above, so it must be added after
# the dict literal
ORACLES["sketch_recall"] = _late_sql_sketch_recall()
ORACLES["ann_scorecard"] = _late_sql_ann_scorecard()
ORACLES["curation_decisions"] = _late_sql_curation_decisions()
# late: the predicate-learning twin embeds the winnow-positives SQL,
# which is defined further up-module than the generator
ORACLES["predicate_learning"] = _predicate_learning_sql().replace(
    "__WINNOW__", SQL_WINNOW_SPAN_PAIRS
)
# late: the release gate recomposes five already-defined oracle twins
ORACLES["release_gate"] = (
    _release_gate_sql()
    .replace("__DQ__", SQL_DQ_CHECKS)
    .replace("__CONTAM__", SQL_DECONTAMINATE_NGRAMS)
    .replace("__DUP__", SQL_DUP_NGRAM_RATIO)
    .replace("__KANON__", SQL_K_ANONYMITY)
    .replace("__PII__", SQL_PII_SCRUB)
)
