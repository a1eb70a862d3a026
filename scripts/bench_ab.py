"""Same-boot bench A/B: a committed ref vs the current tree.

Bench records captured in different boots are NOT comparable (machine
drift of 1.4× between captures once fabricated a phantom regression).
This script runs a committed ref and the current tree back-to-back in
ONE boot, on the same headline set, and writes
``BENCH_sameboot_<sha>.json`` (``<sha>`` = the compared ref's short
sha) with per-query medians and the common-set ratio.

    python scripts/bench_ab.py [prev_ref]

``prev_ref`` defaults to ``HEAD``, so a run with no arguments measures
the uncommitted change.  The ref runs from a temporary git worktree;
the current tree runs from the repo root.  Each side is
a fresh ``bench.py`` subprocess (own JVM), sequential on an otherwise
idle box — "one boot" here means one machine session, minutes apart,
which is what kills the cross-boot drift term.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sh(args: list[str], **kw) -> str:
    return subprocess.run(
        args, check=True, capture_output=True, text=True, **kw
    ).stdout


def _run_bench(root: str) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py")],
        check=True,
        capture_output=True,
        text=True,
        cwd=root,
        env=env,
    ).stdout
    # bench.py prints ONE JSON line on stdout (stderr carries progress)
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise SystemExit(f"no JSON line in bench output from {root!r}")


def main() -> None:
    prev_ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    sha = _sh(["git", "-C", ROOT, "rev-parse", "--short", prev_ref]).strip()
    wt = f"/tmp/bench_ab_prev_{sha}"
    _sh(["git", "-C", ROOT, "worktree", "add", "--force", wt, sha])
    try:
        print(f"# {prev_ref} ({sha}) -> {wt}", file=sys.stderr)
        prev = _run_bench(wt)
        print("# current tree", file=sys.stderr)
        cur = _run_bench(ROOT)
    finally:
        subprocess.run(
            ["git", "-C", ROOT, "worktree", "remove", "--force", wt],
            check=False,
        )
    common = sorted(set(prev["queries"]) & set(cur["queries"]))
    prev_total = round(sum(prev["queries"][q] for q in common), 3)
    cur_total = round(sum(cur["queries"][q] for q in common), 3)
    per_query = {
        q: {
            "prev": prev["queries"][q],
            "cur": cur["queries"][q],
            "ratio": round(cur["queries"][q] / prev["queries"][q], 3)
            if prev["queries"][q]
            else None,
        }
        for q in common
    }
    ratios = [v["ratio"] for v in per_query.values() if v["ratio"]]
    record = {
        "prev_ref": prev_ref,
        "prev_sha": sha,
        "boot": "single-session back-to-back (prev first)",
        "sf": cur.get("sf"),
        "common_queries": len(common),
        "common_prev_sec": prev_total,
        "common_cur_sec": cur_total,
        "common_ratio": round(cur_total / prev_total, 3) if prev_total else None,
        "median_query_ratio": round(statistics.median(ratios), 3)
        if ratios
        else None,
        "new_queries": sorted(set(cur["queries"]) - set(prev["queries"])),
        "new_queries_sec": round(
            sum(
                t
                for q, t in cur["queries"].items()
                if q not in prev["queries"]
            ),
            3,
        ),
        "queries": per_query,
    }
    path = os.path.join(ROOT, f"BENCH_sameboot_{sha}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v for k, v in record.items() if k != "queries"}))
    print(f"# written {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
