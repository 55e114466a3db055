"""The workloads: inputs, expected results, one job, its check.

A workload names its job kinds and how many closed-loop clients run them.
Inputs and expected results are built once per seed and cached under the
work directory; that time is never part of ``setup_s``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb

import check
import gen

# input sizes; every workload runs on these and nothing else
WC_BYTES = 4 << 20
WC_VOCAB = 100_000
WC_FILES = 8
OLAP_SF = 0.02

OLAP_KINDS = (
    "q4_order_priority_check",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "window_top3_orders_per_customer",
    "events_session_5m",
    "range_join_events_in_order_window",
    "asof_purchase_prior_view",
    "agg_rollup_region_nation",
)


@dataclass
class Job:
    index: int
    kind: str
    start: float = 0.0
    end: float = 0.0
    result: object = None
    error: str | None = None
    # wall clock (time.time) when the action began; jobs of the group
    # submitted before it were launched while building or planning
    action_at: float = 0.0
    spark: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.index}"

    @property
    def latency(self) -> float:
        return self.end - self.start


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _stat_digest(paths: list[str]) -> str:
    parts = [f"{os.path.basename(p)}:{os.path.getsize(p)}:{os.stat(p).st_mtime_ns}" for p in paths]
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


class _Cached:
    """Seeded input directory plus a JSON file of expected results."""

    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.input_dir = os.path.join(
            work, "inputs", f"{self.name}-s{seed}-v{gen.GEN_VERSION}"
        )
        self.expected_dir = os.path.join(work, "expected")
        self.expected: dict = {}

    def prepare(self) -> None:
        marker = os.path.join(self.input_dir, ".complete")
        if not os.path.exists(marker):
            shutil.rmtree(self.input_dir, ignore_errors=True)
            self._generate()
            open(marker, "w").close()
        # keyed on the inputs and on what computes the answer
        key = hashlib.md5(f"{self._digest()}|{self._oracle_text()}".encode()).hexdigest()[:12]
        path = os.path.join(self.expected_dir, f"{self.name}-s{self.seed}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                self.expected = json.load(f)
            return
        self.expected = self._compute_expected()
        os.makedirs(self.expected_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(self.expected, f)
        os.replace(path + ".tmp", path)

    def _generate(self) -> None:
        raise NotImplementedError

    def _digest(self) -> str:
        raise NotImplementedError

    def _oracle_text(self) -> str:
        raise NotImplementedError

    def _compute_expected(self) -> dict:
        raise NotImplementedError


class OlapConcurrent(_Cached):
    """Registry queries over generated fixture-shaped tables, one closed-loop
    client per core, all sharing one session."""

    name = "olap_concurrent"
    kinds = list(OLAP_KINDS)

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.clients = len(os.sched_getaffinity(0))
        self.specs: dict = {}
        self.tables_of: dict[str, list[str]] = {}

    def _generate(self) -> None:
        gen.write_tables(gen.fixture_tables(self.seed, OLAP_SF), self.input_dir)

    def _digest(self) -> str:
        from mapreduce_docker_spark.sources.catalog import fixture_digest

        names = sorted(
            p[: -len(".parquet")] for p in os.listdir(self.input_dir) if p.endswith(".parquet")
        )
        joined = "|".join(fixture_digest(self.input_dir, n) for n in names)
        return hashlib.md5(joined.encode()).hexdigest()[:12]

    def load_specs(self) -> None:
        from mapreduce_docker_spark.registry import all_specs
        from mapreduce_docker_spark.sources.catalog import TABLES

        specs = all_specs()
        self.specs = {k: specs[k] for k in self.kinds}
        for k, spec in self.specs.items():
            self.tables_of[k] = [t for t in TABLES if re.search(rf"\b{t}\b", spec.sql)]

    def _oracle_text(self) -> str:
        self.load_specs()
        return "|".join(f"{k}:{spec.sql}" for k, spec in self.specs.items())

    def _compute_expected(self) -> dict:
        con = duckdb.connect()
        try:
            for p in sorted(glob.glob(os.path.join(self.input_dir, "*.parquet"))):
                t = os.path.basename(p)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

            def one(spec):
                cur = con.cursor()
                try:
                    res = cur.execute(spec.sql)
                    cols = [d[0] for d in res.description]
                    return {"columns": cols, "rows": check.to_json(check.normalize(res.fetchall(), cols))}
                finally:
                    cur.close()

            # the oracle queries are independent; run them side by side
            with ThreadPoolExecutor(max_workers=len(self.specs)) as ex:
                futures = {k: ex.submit(one, spec) for k, spec in self.specs.items()}
                return {k: f.result() for k, f in futures.items()}
        finally:
            con.close()

    def input_bytes(self, kind: str) -> int:
        return sum(
            os.path.getsize(os.path.join(self.input_dir, f"{t}.parquet"))
            for t in self.tables_of[kind]
        )

    def run_job(self, spark, job: Job, tracer) -> None:
        spec = self.specs[job.kind]
        with tracer.span("operators.build"):
            df = spec.fn(spark, self.input_dir)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        job.action_at = time.time()
        with tracer.span("spark.action"):
            rows = df.collect()
        job.result = (df.columns, [tuple(r) for r in rows])

    def result_rows(self, job: Job) -> int:
        return len(job.result[1])

    def layer_passes(self, spark) -> dict[str, float]:
        return {}

    def check(self, job: Job) -> str | None:
        cols, rows = job.result
        return check.compare(self.expected[job.kind], cols, rows)


WORDCOUNT_SQL = """
SELECT word, count(*)::BIGINT AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(translate(line, 'İΣ', 'iσ')), '[a-z]+')) AS word
      FROM corpus_lines)
GROUP BY word
ORDER BY cnt DESC, word
"""


class WordcountCorpus(_Cached):
    """The reference's production job: counts -> top-20 + unique + TSV."""

    name = "wordcount_corpus"
    kinds = ["wordcount"]
    clients = 1

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.corpus_dir = os.path.join(self.input_dir, "corpus")
        self.out_dir = os.path.join(work, "out")

    def _generate(self) -> None:
        files = gen.corpus_files(self.seed, WC_BYTES, WC_VOCAB, WC_FILES)
        gen.write_corpus(files, self.corpus_dir)

    def _corpus_paths(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.corpus_dir, "*.txt")))

    def _digest(self) -> str:
        return _stat_digest(self._corpus_paths())

    def _oracle_text(self) -> str:
        return WORDCOUNT_SQL

    def _compute_expected(self) -> dict:
        import pyarrow as pa

        lines = []
        for p in self._corpus_paths():
            with open(p, encoding="utf-8") as f:
                # split as Spark's line reader does (the corpus has no \r)
                part = f.read().split("\n")
            lines.extend(part[:-1] if part and part[-1] == "" else part)
        corpus_lines = pa.table({"line": lines})  # noqa: F841 - DuckDB scans it by name
        con = duckdb.connect()
        try:
            ranked = con.execute(WORDCOUNT_SQL).fetchall()
        finally:
            con.close()
        tsv = "".join(f"{w}\t{c}\n" for w, c in ranked).encode()
        return {
            "top20": {
                "columns": ["word", "cnt"],
                "rows": check.to_json(check.normalize(ranked[:20], ["word", "cnt"])),
            },
            "unique_words": len(ranked),
            "tsv_md5": hashlib.md5(tsv).hexdigest(),
            "tsv_bytes": len(tsv),
        }

    def load_specs(self) -> None:
        from mapreduce_docker_spark.registry import all_specs

        all_specs()

    def input_bytes(self, kind: str) -> int:
        return sum(os.path.getsize(p) for p in self._corpus_paths())

    def run_job(self, spark, job: Job, tracer) -> None:
        from mapreduce_docker_spark.operators import wordcount as wc
        from mapreduce_docker_spark.sources import text

        out = os.path.join(self.out_dir, f"job-{job.index}")
        with tracer.span("sources.text.read_text_corpus"):
            df = text.read_text_corpus(spark, self.corpus_dir)
        with tracer.span("operators.build"):
            counts = wc.word_counts(df, "value")
            top, uniq = wc.top_k(counts, 20), wc.unique_words(counts)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                top._jdf.queryExecution().executedPlan()
                uniq._jdf.queryExecution().executedPlan()
        job.action_at = time.time()
        with tracer.span("spark.action"):
            top_rows = [tuple(r) for r in top.collect()]
            n_unique = uniq.collect()[0][0]
        with tracer.span("sources.text.write_tsv"):
            text.write_tsv(wc.ranked(counts), out)
        job.result = (top_rows, n_unique, out)

    def result_rows(self, job: Job) -> int:
        return self.expected["unique_words"]

    def check(self, job: Job) -> str | None:
        top_rows, n_unique, out = job.result
        try:
            bad = check.compare(self.expected["top20"], ["word", "cnt"], top_rows)
            if bad:
                return f"top-20: {bad}"
            if n_unique != self.expected["unique_words"]:
                return f"unique words {n_unique} != {self.expected['unique_words']}"
            h, size = hashlib.md5(), 0
            for p in sorted(glob.glob(os.path.join(out, "part-*"))):
                with open(p, "rb") as f:
                    data = f.read()
                h.update(data)
                size += len(data)
            if h.hexdigest() != self.expected["tsv_md5"]:
                return f"ranked TSV differs ({size} bytes, want {self.expected['tsv_bytes']})"
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def layer_passes(self, spark) -> dict[str, float]:
        """Scan-only, scan+tokenize, scan+tokenize+aggregate and
        scan+tokenize+shingle-hash passes over the corpus; each layer is
        the difference to the pass below it."""
        from pyspark.sql import functions as F

        from mapreduce_docker_spark.functions.texthash import shingle_hash_rows
        from mapreduce_docker_spark.functions.tokenize import tokens
        from mapreduce_docker_spark.operators import wordcount as wc
        from mapreduce_docker_spark.sources import text

        def lines():
            return text.read_text_corpus(spark, self.corpus_dir)

        scan = _median_time(lambda: lines().select(F.sum(F.length("value"))).collect())
        tok = _median_time(lambda: lines().select(F.sum(F.size(tokens("value")))).collect())
        agg = _median_time(lambda: wc.unique_words(wc.word_counts(lines(), "value")).collect())
        hashed = _median_time(
            lambda: shingle_hash_rows(lines(), [], "value").select(F.sum("h")).collect()
        )
        return {
            "sources.text.scan_s": scan,
            "functions.tokenize_s": tok - scan,
            "functions.texthash_s": hashed - tok,
            "operators.wordcount.agg_s": agg - tok,
        }

    def tsv_mb(self) -> float:
        return self.expected["tsv_bytes"] / (1 << 20)


WORKLOADS = {
    w.name: w for w in (WordcountCorpus, OlapConcurrent)
}
