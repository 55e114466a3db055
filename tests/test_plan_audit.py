"""Self-enforcing anti-pattern sweep: tools/plan_audit.py as a suite gate.

The audit builds every (non-streaming) registered plan and demands that
the set of flagged operators (row-Python, cartesian, nested-loop joins,
pandas execs) exactly matches the documented-bounded allowlist in
``plan_audit.KNOWN`` — so a refactor that silently introduces a
BroadcastNestedLoopJoin into a corpus-scale query, or drops a broadcast
hint into a row-Python fallback, fails the suite instead of waiting for a
benchmark regression.

Subprocess like the vanilla gate: plan building is cheap but the audit
wants the engine's own session confs without polluting conftest's.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_audit_allowlist_exact(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_audit.py")],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=1200,
    )
    summary = [
        ln
        for ln in proc.stdout.strip().splitlines()
        if ln.startswith("audited ") or "UNEXPECTED" in ln or "ERROR" in ln
    ]
    assert proc.returncode == 0, "\n".join(summary) or proc.stdout[-2000:]
    assert any("all-known=True" in ln for ln in summary), "\n".join(summary)
