"""Dump .explain("formatted") for named catalog queries into a directory.

    python scripts/dump_plans.py <out_dir> <suffix> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` (suffix is e.g. "before" or
"after"); with no query names, dumps every headline query.  The data
directory is ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.01 tables of TESTDATA.md).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_dtl_spark.catalog import QUERIES  # noqa: E402
from python_dtl_spark.operators.dedup import release_all_cached  # noqa: E402
from python_dtl_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [n for n, q in QUERIES.items() if q.headline]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        q = QUERIES[name]
        try:
            df = q.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR building {name}: {exc!r}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} [{suffix}]\n")
            f.write(text)
        release_all_cached(spark)
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
