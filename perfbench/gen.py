"""Seeded input generators for the workloads.

Everything here is a pure function of ``seed`` and the sizes passed in:
the same seed gives byte-identical files. The engine under test only ever
sees the files written from these.

* :func:`fixture_tables` builds fixture-shaped tables (the TPC-H-ish star
  schema plus ``events``) with the schemas, value domains and key
  relationships of the repository's test fixtures, at a chosen scale
  factor; :func:`write_tables` writes them.
* :func:`corpus_files` builds a plain-text Zipf corpus with a large
  vocabulary, mixed case, punctuation, digits and non-ASCII letters;
  :func:`write_corpus` writes it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator changes output, so cached inputs are rebuilt
GEN_VERSION = 3

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "bracket"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings and no pandas metadata: output bytes depend only
    # on the data
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _date_col(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The fixture-shaped relational and ``events`` tables at scale factor
    ``sf`` (sf=1 ~ 6M lineitem)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(100, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _date_col(
                rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord
            ),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _date_col(
                rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li
            ),
        }
    )
    start_us = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# corpus decorations: each vocabulary word gets one of each variant; a
# token draws its variant with the probabilities in _VARIANT_P
_PUNCT = list(",.;:!?\"'()-") + ["--", "...", "'s"]
_NON_ASCII = list("éüñßøåçæœžłğńЖжλπ中文ка") + ["ï", "é"]
# plain, Capitalized, UPPER, punctuated, digit run, non-ASCII inside,
# Capitalized + punctuated
_VARIANT_P = [0.62, 0.13, 0.05, 0.10, 0.03, 0.02, 0.05]


def corpus_files(seed: int, target_bytes: int, vocab_size: int, n_files: int) -> list[bytes]:
    """Zipf(1.1)-distributed text over ``vocab_size`` synthetic words:
    the UTF-8 bytes of ``n_files`` files of whole lines, ``target_bytes``
    in total up to the last line break.

    Words are random a-z strings of 2-11 letters; ~23 % of tokens are
    capitalized or upper-cased, ~15 % carry punctuation, ~3 % a digit run
    and ~2 % a non-ASCII letter inside (which splits the word into two
    tokens). Lines hold 5-24 words.
    """
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(2, 12, vocab_size)
    letters = rng.integers(0, 26, int(lens.sum())).astype(np.uint8) + ord("a")
    cuts = np.concatenate([[0], np.cumsum(lens)]).tolist()
    raw = letters.tobytes().decode("ascii")
    plain = [raw[cuts[i] : cuts[i + 1]] for i in range(vocab_size)]
    pick = rng.integers(0, 1 << 30, vocab_size).tolist()
    cap = [w.capitalize() for w in plain]
    variants = np.array(
        plain
        + cap
        + [w.upper() for w in plain]
        + [w + _PUNCT[p % len(_PUNCT)] for w, p in zip(plain, pick)]
        + [w + str(p % 10_000) for w, p in zip(plain, pick)]
        + [
            w[: p % (len(w) + 1)] + _NON_ASCII[p % len(_NON_ASCII)] + w[p % (len(w) + 1) :]
            for w, p in zip(plain, pick)
        ]
        + [w + _PUNCT[(p >> 8) % len(_PUNCT)] for w, p in zip(cap, pick)],
        dtype=object,
    )
    # enough words to pass the target; the text is cut back to it below
    n_words = target_bytes // 7
    # Zipf ranks folded into the vocabulary, so the tail is long
    ids = (rng.zipf(1.1, n_words) - 1) % vocab_size
    kind = rng.choice(len(_VARIANT_P), n_words, p=_VARIANT_P)
    seps = np.full(n_words, " ", dtype=object)
    ends = np.cumsum(rng.integers(5, 25, n_words // 5 + 1))
    seps[ends[ends <= n_words] - 1] = "\n"
    inter = np.empty(2 * n_words, dtype=object)
    inter[0::2] = variants[kind * vocab_size + ids]
    inter[1::2] = seps
    data = "".join(inter.tolist()).encode("utf-8")
    data = data[: data.rindex(b"\n", 0, target_bytes) + 1]
    files, start = [], 0
    for i in range(1, n_files + 1):
        stop = len(data) if i == n_files else data.index(b"\n", i * len(data) // n_files) + 1
        files.append(data[start:stop])
        start = stop
    return files


def write_corpus(files: list[bytes], out_dir: str) -> int:
    """Write the corpus files; return their total size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    for i, data in enumerate(files):
        with open(os.path.join(out_dir, f"part-{i:03d}.txt"), "wb") as f:
            f.write(data)
    return sum(len(d) for d in files)
