"""Versioned-table metadata stress (VERDICT r6 task 7): commit-path
latency vs commit count, manifest growth in append mode, and a
multi-writer collision storm on the optimistic os.link commit.

The data plane is out of scope here (parquet writes are measured by
the sinks tests/bench); this stresses the METADATA layer — the part
whose cost grows with commit count, not data size.

Observed on this box (r7):

    commit latency (snapshot-style, 3-file lists, head hint ON):
        0.35-0.59 ms/commit, FLAT from 100 through 30,000 commits
        (the cost is the two file writes + link, not the lookup).
        current_version at 30k manifests: 0.019 ms via the head
        hint vs 46 ms via the listdir fallback — the 2,400× gap the
        hint exists for; at 10^5 commits the fallback alone would
        dominate every commit and snapshot read.
    append-manifest growth: manifest JSON bytes grow linearly with
        total file count (~17 B/file name): 10k one-file appends →
        165 KiB manifest; 10^5 → ~1.7 MB parsed per snapshot read +
        10^5 tiny files per scan. The designed answer is
        compact_versioned() (rewrite newest version at target file
        size, publish as next version) + vacuum_versioned(); after
        compaction the manifest is a few names again.
    collision storm: 8 threads × 50 folded appends → 400 distinct
        versions, zero lost, zero duplicate version numbers, and the
        last manifest lists all 400 files (r7 measured 367 commits/s
        under contention for self-contained commits).

Usage: python tools/stress_tablelog.py [n_commits]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    from trendengine_spark.tablelog import (
        _commit,
        _publish,
        _read_manifest,
        current_version,
    )

    base = tempfile.mkdtemp(prefix="tablelog_stress_")

    # --- commit latency vs commit count (snapshot-style lists)
    path = os.path.join(base, "t1")
    marks = {100, 1000, 10_000, n}
    t_last, v_last = time.perf_counter(), 0
    for i in range(n):
        files = [f"f{i}.parquet", "g.parquet", "h.parquet"]
        _commit(path, lambda head: {"files": files, "stats": {}})
        if (i + 1) in marks:
            now = time.perf_counter()
            per = (now - t_last) / (i + 1 - v_last) * 1000
            print(f"commits={i+1}: {per:.3f} ms/commit (window avg)")
            t_last, v_last = now, i + 1
    assert current_version(path) == n - 1

    # --- append-manifest growth
    path2 = os.path.join(base, "t2")
    for i in range(10_000):
        _commit(
            path2,
            lambda head: {
                "files": (head["files"] if head else []) + [f"f{i}.parquet"],
                "stats": {},
            },
        )
    sz = os.path.getsize(
        os.path.join(path2, "_manifests", f"v{9999:06d}.json")
    )
    print(
        f"append manifest after 10k one-file commits: {sz/1024:.0f} KiB "
        f"({sz/10_000:.1f} B/file) -> compact_versioned resets it"
    )

    # --- collision storm (folded appends): no version or file lost
    path3 = os.path.join(base, "t3")
    got: list[int] = []
    lock = threading.Lock()

    def worker(tid: int) -> None:
        mine = []
        for i in range(50):
            v = _publish(path3, {"": [f"w{tid}_{i}.parquet"]}, append=True)
            mine.append(v)
        with lock:
            got.extend(mine)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    dt = time.perf_counter() - t0
    assert len(got) == 400 and len(set(got)) == 400, "lost/dup versions!"
    assert current_version(path3) == 399
    # the last manifest folds every thread's every file
    last = _read_manifest(path3, 399)["files"]
    assert len(last) == len(set(last)) == 400, "a fold dropped files!"
    print(
        f"collision storm: 8 threads x 50 folded appends -> 400 distinct "
        f"versions, 0 lost, {dt:.1f}s ({400/dt:.0f} commits/s under "
        f"contention)"
    )
    print(json.dumps({"ok": True, "n": n}))


if __name__ == "__main__":
    main()
