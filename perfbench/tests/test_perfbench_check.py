"""The per-job gate: the repository test's normalization, exact floats."""

import json

import check


COLS = ["name", "total", "n"]
ROWS = [("b", 1.25, 3), ("a", 2.5, 1), ("c", None, 2)]


def _expected(rows, cols=COLS):
    return {"columns": cols, "rows": check.to_json(check.normalize(rows, cols))}


def test_matches_repository_normalization():
    from tests.test_oracle_parity import _normalize

    rows = ROWS + [("d", float("nan"), 0), ("e", 1.0, True), ("f", 0.1, [1, 2])]
    assert check.normalize(rows, COLS) == _normalize(rows, COLS)


def test_accepts_reordered_rows_and_columns():
    want = _expected(ROWS)
    got_cols = ["n", "name", "total"]
    got = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert check.compare(want, got_cols, got) is None


def test_rejects_one_perturbed_row():
    want = _expected(ROWS)
    for i in range(len(ROWS)):
        for j, bad in ((1, 1.2500000000000002), (2, 4), (0, "z")):
            rows = list(ROWS)
            row = list(rows[i])
            if row[j] is None:
                continue
            row[j] = bad
            rows[i] = tuple(row)
            assert check.compare(want, COLS, rows) is not None, (i, j)


def test_rejects_missing_extra_row_and_renamed_column():
    want = _expected(ROWS)
    assert "row count" in check.compare(want, COLS, ROWS[:-1])
    assert "row count" in check.compare(want, COLS, ROWS + [("x", 0.0, 0)])
    assert "columns" in check.compare(want, ["name", "total", "cnt"], ROWS)


def test_expected_results_survive_the_json_cache():
    cached = json.loads(json.dumps(_expected(ROWS + [("d", 0.5, [1, 2])])))
    assert check.compare(cached, COLS, ROWS + [("d", 0.5, [1, 2])]) is None
    assert check.compare(cached, COLS, ROWS + [("d", 0.5, [1, 3])]) is not None
