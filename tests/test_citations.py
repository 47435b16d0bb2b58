"""Every `scripts/<name>.py` path the docs and code cite must exist in the
tree, unless the citation pins the commit that had it
(`<sha>:scripts/<name>.py`), so a deleted script leaves no dangling
reference. Reads files only: no Spark session, no git."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a path not preceded by a word, "/", "." or ":" — so neither a longer path
# nor a commit-pinned `<sha>:scripts/...` citation matches
CITATION = re.compile(r"(?<![\w/.:])scripts/(\w+)\.py")
# directories the build, tests and bench runs leave behind (.gitignore)
SKIP_DIRS = {
    ".git", ".pytest_cache", ".hypothesis", ".perfbench_work", ".benchmarks",
    "__pycache__", "spark-warehouse", "metastore_db",
}


def _walk(top: str, suffix: str):
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS]
        for f in files:
            if f.endswith(suffix):
                yield os.path.join(root, f)


def _cited_files() -> list[str]:
    paths = list(_walk(REPO, ".md"))
    for d in ("covsar_spark", "tests"):
        paths += _walk(os.path.join(REPO, d), ".py")
    paths += [os.path.join(REPO, f) for f in ("bench.py", "bench_extra.py")]
    return paths


def test_cited_scripts_exist():
    missing = []
    for path in _cited_files():
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                for name in CITATION.findall(line):
                    if not os.path.exists(os.path.join(REPO, "scripts", f"{name}.py")):
                        missing.append(f"{os.path.relpath(path, REPO)}:{n}: scripts/{name}.py")
    assert not missing, "cited scripts missing from the tree:\n" + "\n".join(missing)

