"""Pin texthash primitives to pure-Python reference implementations.

Guards against silent expression-level corruption (e.g. the Spark 4.1
nested-lambda variable collision that broke the per-seed MinHash
comprehension — see functions/texthash.py:minhash_signature).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from mapreduce_docker_spark.functions import texthash as th
from mapreduce_docker_spark.functions.tokenize import tokens

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the dog was really lazy but the fox was quick",
    "alpha beta",  # shorter than the shingle width
    "one two three one two three one two",  # repeated shingles
]


def _py_tokens(t: str) -> list[str]:
    return re.findall(r"[a-z]+", t.lower())


def _py_shingles(toks: list[str], k: int = 3) -> list[str]:
    if len(toks) >= k:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        grams = [" ".join(toks)]
    return list(dict.fromkeys(grams))


def _py_shingle_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % th.MINHASH_P


def _py_minhash(sh: list[str]) -> list[int]:
    hs = [_py_shingle_hash(s) for s in sh]
    return [
        min((a * h + b) % th.MINHASH_P for h in hs)
        for a, b in zip(th.MINHASH_A, th.MINHASH_B)
    ]


def _py_bands(sig: list[int]) -> list[str]:
    r = th.ROWS_PER_BAND
    return [
        hashlib.md5("|".join(str(x) for x in sig[b * r : b * r + r]).encode()).hexdigest()
        for b in range(th.BANDS)
    ]


def _py_simhash(toks: list[str]) -> int:
    sums = [0] * th.SIMHASH_BITS
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(th.SIMHASH_BITS):
            sums[j] += 1 if h[j] in "89abcdef" else -1
    return sum(1 << j for j, s in enumerate(sums) if s > 0)


def _py_fingerprint(toks: list[str]) -> int:
    acc = 0
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        acc = (acc * th.FP_BASE + h) % th.FP_MOD
    return acc


def test_shingles_minhash_bands_fingerprint(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    sh = th.shingles(tokens("text"))
    sig = th.minhash_signature(sh)
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            sh.alias("sh"),
            sig.alias("sig"),
            th.band_signatures(sig).alias("bands"),
            th.rolling_fingerprint(tokens("text")).alias("fp"),
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        toks = _py_tokens(t)
        exp_sh = _py_shingles(toks)
        assert sorted(rows[i]["sh"]) == sorted(exp_sh), f"shingles differ for {t!r}"
        exp_sig = _py_minhash(exp_sh)
        assert list(rows[i]["sig"]) == exp_sig, f"minhash differs for {t!r}"
        assert list(rows[i]["bands"]) == _py_bands(exp_sig), f"bands differ for {t!r}"
        assert rows[i]["fp"] == _py_fingerprint(toks), f"fingerprint differs for {t!r}"


def test_minhash_explode_path_matches_hof(spark):
    """The corpus-scale explode+min-agg formulation must equal the array one."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "id int, text string"
    )
    ex = df.select(
        "id", F.explode(th.shingles(tokens("text"))).alias("s")
    ).select("id", th.shingle_hash(F.col("s")).alias("h"))
    agg = ex.groupBy("id").agg(
        *[e.alias(f"s{i}") for i, e in enumerate(th.minhash_min_exprs(F.col("h")))]
    )
    got = {
        r["id"]: [r[f"s{i}"] for i in range(th.NUM_HASHES)] for r in agg.collect()
    }
    for i, t in enumerate(TEXTS):
        assert got[i] == _py_minhash(_py_shingles(_py_tokens(t))), f"explode path differs for {t!r}"


def test_simhash(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    toks_df = df.select("id", F.explode(tokens("text")).alias("w"))
    votes = th.simhash_votes(F.col("w"))
    agg = toks_df.groupBy("id").agg(*[F.sum(v).alias(f"s{j}") for j, v in enumerate(votes)])
    out = {
        r["id"]: r["simhash"]
        for r in agg.select(
            "id",
            th.simhash_from_vote_sums(
                [F.col(f"s{j}") for j in range(th.SIMHASH_BITS)]
            ).alias("simhash"),
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        assert out[i] == _py_simhash(_py_tokens(t)), f"simhash differs for {t!r}"


def test_shingle_hash_matches_oracle_spelling_bit_exactly(spark):
    """The md5->31-bit hash is the keystone every MinHash oracle rests on:
    the Spark and DuckDB spellings must agree for arbitrary strings (unicode,
    punctuation, md5 hex prefixes with/without leading letters), not just the
    fixture corpus — md5 operates on UTF-8 bytes in both engines and the hex
    prefix -> integer conversions must be identical."""
    import duckdb

    from mapreduce_docker_spark.functions import texthash as th

    vals = [
        "the quick brown fox",
        "a",
        " ",
        "token token token",
        "naïve café über",          # multi-byte UTF-8
        "日本語のテキスト",            # CJK
        "tab\tand\nnewline",
        "0123456789abcdef",
        "x" * 500,                  # long shingle
        "punct!@#$%^&*()",
        "mixedCASE Shingle",
    ] + [f"shingle_{i}_{i*i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    from pyspark.sql import functions as F

    got = [r[0] for r in df.select(th.shingle_hash(F.col("s")).alias("h")).collect()]
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {th.sql_shingle_hash('s')} FROM (SELECT unnest(?::VARCHAR[]) AS s)",
            params=[vals],
        ).fetchall()
    ]
    assert got == want, [
        (v, g, w) for v, g, w in zip(vals, got, want) if g != w
    ][:5]


def test_symspell_blocking_is_complete_at_distance_1(spark):
    """Deletion-neighborhood blocking finds EXACTLY the all-pairs result —
    set equality, not a recall floor: any two words within edit distance 1
    share a deletion key by construction, so the blocked join may not drop
    (or invent) a single pair vs the quadratic baseline."""
    from pyspark.sql import functions as F

    from mapreduce_docker_spark.operators.textanalysis_queries import (
        text_symspell_vocab_pairs,
    )
    from mapreduce_docker_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    blocked = {
        (r["word_a"], r["word_b"], r["edit_dist"])
        for r in text_symspell_vocab_pairs(spark, sf).collect()
    }
    vocab = (
        load_table(spark, sf, "part")
        .select(F.explode(F.split(F.lower("p_name"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    a = vocab.select(F.col("w").alias("word_a"))
    b = vocab.select(F.col("w").alias("word_b"))
    brute = {
        (r["word_a"], r["word_b"], r["edit_dist"])
        for r in a.join(b, F.col("word_a") < F.col("word_b"))
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 1)
        .collect()
    }
    assert blocked == brute
    assert brute, "fixture part vocabulary should contain distance-1 pairs"


def test_shingle_hash_rows_matches_array_path(spark):
    """Per-doc hash SETS of shingle_hash_rows equal explode(shingles(tokens()))
    -> shingle_hash on the fixture plus empty, NULL and shorter-than-k texts."""
    from mapreduce_docker_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    crafted = spark.createDataFrame(
        [(-1, ""), (-2, None), (-3, "   "), (-4, "alpha beta"), (-5, "solo")],
        "doc_id long, text string",
    )
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs = docs.unionByName(crafted)

    def hash_sets(df):
        agg = df.groupBy("doc_id").agg(F.collect_set("h"))
        return {r[0]: set(r[1]) for r in agg.collect()}

    ref = docs.select("doc_id", F.explode(th.shingles(tokens("text"))).alias("s"))
    ref = hash_sets(ref.select("doc_id", th.shingle_hash(F.col("s")).alias("h")))
    assert hash_sets(th.shingle_hash_rows(docs, ["doc_id"])) == ref
    assert len(ref) == 502 and {-4, -5} <= set(ref)
