"""Dump .explain("formatted") for named registry queries to files.

Usage:
    python scripts/explain_dump.py <tag> <query> [<query> ...]
    python scripts/explain_dump.py <tag> --top N      # N warm-slowest in BENCH_LOCAL.json

Writes plans/<round>/<query>_<tag>.txt — the evidence files the
optimization round's judge checks plan claims against (e.g.
"2 Exchange -> 1"). Round dir via $AOS_PLANS_ROUND (default r16); data
from $SPARK_GRAFT_SF_DIR, as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys

from ab import BENCH_LOCAL, ROOT, sf_dir, tail

from aos_spark.cache import release_tracked
from aos_spark.queries import QUERIES
from aos_spark.session import get_spark

OUT = ROOT / "plans" / os.environ.get("AOS_PLANS_ROUND", "r16")


def main() -> None:
    tag = sys.argv[1]
    if sys.argv[2] == "--top":
        names = tail(json.loads(BENCH_LOCAL.read_text()), int(sys.argv[3]))
    else:
        names = sys.argv[2:]
    OUT.mkdir(parents=True, exist_ok=True)
    spark = get_spark("explain-dump")
    for name in names:
        df = QUERIES[name](spark, sf_dir())
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        p = OUT / f"{name}_{tag}.txt"
        p.write_text(txt)
        print(f"wrote {p} ({len(txt.splitlines())} lines)")
        release_tracked()
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
