"""Every repository path the standing docs, the bench harness or a package
comment cites must exist in the checkout, so deleting a tool, test or
artifact cannot leave a dead citation behind.

Checked: ``tools/…``, ``tests/…`` and ``perfbench/…`` (repo-relative) and
``plans/…`` (package-relative, ``csv_parquet_s3_spark/plans/…``); a glob
must match at least one file. A path cited as a revision (``<sha>:tools/…``
in a ``git show``) is history, not the checkout, and is skipped. The
skill notes (``SKILL.md`` under the repo's dot-directories) are in scope.
Round records (CHANGES.md, ROADMAP.md, VERDICT.md, ADVICE.md and the
``BENCH_r*``/``CORRECTNESS_r*``/``VERIFY_r*``/``PERF_r*`` JSON) are out of
scope: they describe the tree as it was.
"""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "csv_parquet_s3_spark")
DOCS = (
    "README.md",
    "ARCHITECTURE.md",
    "DEPLOYMENT.md",
    "PARITY.md",
    "PLAN_AUDIT.md",
    "bench.py",
)
CITED = re.compile(r"(?<![\w./:-])((?:tools|tests|perfbench|plans)/[\w.*/-]*[\w*])")


def _cited_paths():
    sources = [os.path.join(REPO, d) for d in DOCS]
    sources += glob.glob(os.path.join(REPO, ".*", "skills", "*", "SKILL.md"))
    sources += glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    for src in sources:
        with open(src, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                for m in CITED.finditer(line):
                    yield m.group(1), f"{os.path.relpath(src, REPO)}:{n}"


def test_cited_paths_exist():
    cited = list(_cited_paths())
    assert any(p == "tools/plan_audit.py" for p, _ in cited)  # the scan sees citations
    dangling = [
        f"{where}: {path}"
        for path, where in cited
        if not glob.glob(os.path.join(PACKAGE if path.startswith("plans/") else REPO, path))
    ]
    assert not dangling, "cited paths missing from the checkout:\n" + "\n".join(dangling)
