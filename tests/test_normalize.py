"""Normalizer parity tests (FIXTURES.md F4; reference dedupe_script.py:18-31)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedupe_spark.normalize import (
    MISSING,
    fold_ascii,
    preprocess_expr,
    preprocess_sql,
    preprocess_udf,
    preprocess_value,
)

# (case_id, raw, expected) — one row per preprocess() branch.
GOLDEN = [
    ("accents", "Café Zürich", "cafe zurich"),
    ("nan_literal", "nan", MISSING),
    ("nan_mixed_case", "NaN", MISSING),
    ("nan_upper", "NAN", MISSING),
    ("multi_space", "a    b  c", "a b c"),
    ("newline", "a\nb", "a b"),
    # reference order: space-collapse BEFORE newline->space, so the spaces
    # flanking a newline survive uncollapsed (SURVEY.md §1.3)
    ("newline_keeps_spaces", "a \n b", "a   b"),
    ("wrapping_double_quotes", '"hello"', "hello"),
    ("wrapping_single_quotes", "'hello'", "hello"),
    ("empty", "", MISSING),
    ("null", None, MISSING),
    ("whitespace_only", "   ", MISSING),
    ("already_clean", "plain text", "plain text"),
    ("upper", "HELLO World", "hello world"),
    ("quotes_then_space", '  "Padded"  ', "padded"),
    ("german_eszett", "Straße", "strasse"),
    ("polish_l", "Łódź", "lodz"),
    ("float_nan", float("nan"), MISSING),
]


def test_preprocess_value_golden():
    for case_id, raw, expected in GOLDEN:
        assert preprocess_value(raw) == expected, case_id


def test_fold_ascii_examples():
    assert fold_ascii("Café") == "Cafe"
    assert fold_ascii("Zürich") == "Zurich"
    assert fold_ascii("naïve") == "naive"
    assert fold_ascii("Ævar") == "AEvar"
    assert fold_ascii("“smart”") == '"smart"'


def test_preprocess_udf_matches_scalar(spark):
    raws = [r for _, r, _ in GOLDEN if not isinstance(r, float)]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [
        row["out"]
        for row in df.select(preprocess_udf(F.col("raw")).alias("out")).collect()
    ]
    assert got == [preprocess_value(r) for r in raws]


def test_preprocess_expr_matches_scalar_on_ascii(spark):
    """Built-in Column chain == scalar for ASCII input (its documented domain)."""
    raws = [
        r
        for _, r, _ in GOLDEN
        if isinstance(r, str) and r == fold_ascii(r)
    ] + [None]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [
        row["out"]
        for row in df.select(preprocess_expr("raw").alias("out")).collect()
    ]
    assert got == [preprocess_value(r) for r in raws]


def test_preprocess_sql_matches_expr(spark):
    """DuckDB twin of preprocess_expr produces identical output."""
    raws = [
        r for _, r, _ in GOLDEN if isinstance(r, str) and r == fold_ascii(r)
    ] + [None]
    pdf = pd.DataFrame({"raw": raws})
    duck = duckdb.connect()
    duck.register("t", pdf)
    duck_out = [
        r[0]
        for r in duck.sql(f"SELECT {preprocess_sql('raw')} FROM t").fetchall()
    ]
    df = spark.createDataFrame(pdf)
    spark_out = [
        row["out"] for row in df.select(preprocess_expr("raw").alias("out")).collect()
    ]
    assert duck_out == spark_out


def test_not_idempotent_by_design():
    """The reference preprocess is deliberately applied exactly once per cell
    and is NOT idempotent: newline->space runs *after* space-collapse, so a
    second application collapses the surviving spaces ('a \\n b' -> 'a   b'
    -> 'a b'), and the sentinel 'N/A' lowercases. Pin that behavior so no
    future 'cleanup' silently double-normalizes."""
    assert preprocess_value("a \n b") == "a   b"
    assert preprocess_value("a   b") == "a b"
    assert preprocess_value(MISSING) == "n/a"


def test_udf_equals_expr_on_driver_corpus(spark):
    """Flagship-oracle precondition: the full pandas-UDF normalizer and the
    SQL-twin expression chain agree on every driver document (the corpus is
    ASCII, the expression chain's documented domain). q_er_clusters
    normalizes with the UDF while its DuckDB oracle uses preprocess_sql —
    this is the test that fails first if the corpus ever stops being ASCII."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        n_diff = (
            d.select(
                preprocess_udf(F.col("text")).alias("u"),
                preprocess_expr("text").alias("e"),
            )
            .where(F.col("u") != F.col("e"))
            .count()
        )
        assert n_diff == 0, f"UDF/expr normalize divergence at {sf}"


# ---------------------------------------------------------------------------
# Transliteration fixture (VERDICT r4 "What's missing" #1)
# ---------------------------------------------------------------------------

# (case_id, raw, expected fold_ascii output). These pin THIS engine's
# transliteration contract — standard public romanizations, not a byte
# clone of unidecode. Known divergences from unidecode are called out per
# case; every divergence is symmetric (both sides of any candidate pair
# fold identically), which is the property matching actually needs.
TRANSLIT_GOLDEN = [
    # Cyrillic — BGN/PCGN-style
    ("ru_city", "Москва", "Moskva"),
    ("ru_phrase", "Российская Федерация", "Rossiiskaya Federatsiya"),
    # ё NFKD-decomposes to е before the table pass -> 'e' (unidecode: 'io')
    ("ru_yo_and_hard_sign", "Ёлка подъезд", "Elka podezd"),
    ("uk_letters", "Київ Ґанок", "Kiyiv Ganok"),
    # Greek — eta->'e', chi->'kh' (unidecode agrees on eta; uses 'kh' too)
    ("el_country", "Ελλάδα", "Ellada"),
    ("el_accented", "Αθήνα καλημέρα", "Athena kalemera"),
    ("el_final_sigma", "ψυχής", "psukhes"),
    # Kana — per-codepoint Hepburn; small kana fold like their full forms,
    # so きゃ -> 'kiya' (same context-free treatment as unidecode) and the
    # chōonpu becomes '-'
    ("ja_hiragana", "こんにちは", "konnichiha"),
    ("ja_voiced", "がぎぐげご", "gagigugego"),
    ("ja_katakana_choonpu", "ラーメン", "ra-men"),
    ("ja_small_kana", "きゃりー", "kiyari-"),
    # Hangul — algorithmic Revised Romanization via NFKD jamo
    # (transliteration-style finals: 국 -> 'gug', 값 -> 'gabs')
    ("ko_greeting", "안녕하세요", "annyeonghaseyo"),
    ("ko_country", "대한민국", "daehanmingug"),
    ("ko_cluster_final", "값", "gabs"),
    # CJK ideographs — identity tokens with trailing space (unidecode
    # emits pinyin; we have no Unihan tables, so the token preserves the
    # per-character matching signal instead of DROPPING it)
    ("zh_ideographs", "中文", "u004e2d u006587 "),
    ("ja_mixed", "日本語テキスト", "u0065e5 u00672c u008a9e tekisuto"),
    # other scripts/symbols — identity tokens, no space
    ("he_word", "שלום", "u0005e9u0005dcu0005d5u0005dd"),
    ("ar_word", "مرحبا", "u000645u000631u00062du000628u000627"),
    ("sym_euro", "€100", "u0020ac100"),
    # NFKD still handles compatibility forms before the fallback
    ("sym_numero", "№5", "No5"),
    # default-ignorable Cf codepoints (soft hyphen, zero-width space,
    # joiners, BOM, bidi marks) DROP — near-dup copies routinely differ
    # only by them, so they must never block a match
    ("cf_soft_hyphen", "co\u00adoperate", "cooperate"),
    ("cf_zwsp_zwj", "hello\u200bwor\u200dld", "helloworld"),
    ("cf_bom_bidi", "\ufeffab\u200fcd", "abcd"),
]


def test_fold_ascii_translit_golden():
    for case_id, raw, expected in TRANSLIT_GOLDEN:
        assert fold_ascii(raw) == expected, case_id


def test_fold_ascii_never_drops_signal():
    """The round-5 contract change: NO codepoint folds to nothing unless
    its script's standard romanization says so (silent letters, hard/soft
    signs). Two distinct CJK strings must stay distinct after folding —
    the pre-round-5 kernel folded both to '' and erased the signal."""
    a, b = fold_ascii("中文维基"), fold_ascii("日本百科")
    assert a and b and a != b
    # determinism + symmetry: the property pairwise matching relies on
    assert fold_ascii("中文维基") == a


def test_preprocess_value_multiscript():
    """End-to-end preprocess over mixed-script cells: lowercased, space-
    collapsed, and signal-bearing for every script."""
    assert preprocess_value("  中文 TEST  ") == "u004e2d u006587 test"
    assert preprocess_value("Москва\nCity") == "moskva city"
    assert preprocess_value("안녕하세요") == "annyeonghaseyo"


def test_preprocess_series_multiscript_matches_scalar(spark):
    """The batched (factorized, isascii-fast-path) normalizer equals the
    scalar on a mixed ASCII/multi-script batch — the fast path must not
    change semantics."""
    raws = (
        [r for _, r, _ in TRANSLIT_GOLDEN]
        + ["plain ascii", None, "nan", "  Padded  "]
    )
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [
        row["out"]
        for row in df.select(preprocess_udf(F.col("raw")).alias("out")).collect()
    ]
    assert got == [preprocess_value(r) for r in raws]


def test_fold_ascii_identity_tokens_are_injective():
    """Review-fix regression: variable-width u<hex> tokens let a CJK char
    collide with (other-script char + ASCII hex digit) — e.g. 崁 (U+5D01)
    vs א (U+05D0) followed by '1' both folded to 'u5d01'. Fixed-width
    6-hex tokens make token boundaries deterministic."""
    from dedupe_spark.normalize import preprocess_value

    a = preprocess_value("X崁")
    b = preprocess_value("Xא" + "1")
    assert a != b, (a, b)
    assert preprocess_value("\U00020000") == "u020000"  # plane-2 fits 6 hex


def test_preprocess_series_nul_batch_takes_scalar_path(monkeypatch):
    """pandas' all-string factorize compares C strings, so 'a\\x00b' would
    merge with 'a' in the unique-cache. A batch carrying NUL anywhere (past
    the first chunk of the check, next to nulls) goes through the exact
    scalar map, once per row; a NUL-free batch never does."""
    from dedupe_spark.functions import normkernel as NK

    calls = []

    def spy(v):
        calls.append(v)
        return preprocess_value(v)

    monkeypatch.setattr(NK, "preprocess_value", spy)
    vals = ["a"] * 1500 + [None, "a\x00b", "A"]
    got = list(NK.preprocess_series(pd.Series(vals, dtype=object)))
    assert len(calls) == len(vals)
    assert got[-3:] == [MISSING, "a\x00b", "a"]
    assert got == [preprocess_value(v) for v in vals]
    calls.clear()
    NK.preprocess_series(pd.Series(["a", None, "b"], dtype=object))
    assert calls == []
