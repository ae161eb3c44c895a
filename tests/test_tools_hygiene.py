"""Static guard over the scripts around the engine; starts no Spark job.

- every ``tools/*.py`` and ``bench.py`` byte-compiles;
- no script under ``tools/`` or ``tests/`` names an absolute path into a
  checkout of this package (a tool run from a second checkout must
  import that checkout, not another one);
- every ``tools/*.py`` or ``tests/*.py`` path cited in the package, the
  scripts, ``bench.py``, README.md, USAGE.md or ROADMAP.md exists.
"""

from __future__ import annotations

import functools
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "trendengine_spark"

#: a quoted absolute path, e.g. "/data/x" or '/opt/y/z.md'
_ABS_LITERAL = re.compile(r"""["'](/[^"'\s]+)["']""")
#: a tools/ or tests/ script path that is not part of a longer path
_CITED = re.compile(r"(?<![\w/.-])((?:tools|tests)/\w+\.py)")


def _files(*patterns: str) -> list[str]:
    return sorted(
        f for p in patterns for f in glob.glob(os.path.join(REPO, p), recursive=True)
    )


@functools.lru_cache(maxsize=None)
def _holds_package(path: str) -> bool:
    """True when ``path`` or one of its ancestors is a checkout."""
    while path not in ("/", ""):
        if os.path.isdir(os.path.join(path, PACKAGE)):
            return True
        path = os.path.dirname(path)
    return False


def test_tools_and_bench_byte_compile():
    for path in _files("tools/*.py", "bench.py"):
        with open(path, encoding="utf-8") as f:
            compile(f.read(), path, "exec")


def test_no_absolute_checkout_paths_in_scripts():
    bad = []
    for path in _files("tools/*.py", "tests/*.py"):
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                for lit in _ABS_LITERAL.findall(line):
                    if lit.startswith(REPO) or _holds_package(lit):
                        bad.append(f"{os.path.relpath(path, REPO)}:{n}: {lit}")
    assert not bad, "absolute checkout paths:\n" + "\n".join(bad)


def test_cited_scripts_exist():
    missing = []
    for path in _files(
        f"{PACKAGE}/**/*.py", "tests/*.py", "tools/*.py", "bench.py",
        "README.md", "USAGE.md", "ROADMAP.md",
    ):
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                for cited in _CITED.findall(line):
                    if not os.path.exists(os.path.join(REPO, cited)):
                        missing.append(
                            f"{os.path.relpath(path, REPO)}:{n}: {cited}"
                        )
    assert not missing, "cited scripts that do not exist:\n" + "\n".join(missing)
