"""Record ``expected.json``: row count and digest of each query op.

Run from the repository root, once, when the ops or the test data change:

    python3 perfbench/record_expected.py

Every op runs on a fresh copy of the sf0.1 tables. An op with a DuckDB
oracle is recorded only if its output passes ``tests/oracle.compare``
against the oracle on the same tables; an op without one is recorded
rows-only and checked on its row count. Any mismatch leaves the file
unchanged and exits non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import alias_testdata, model_cache_entries, testdata_dir, use_work_dir  # noqa: E402


def main() -> int:
    root = Path.cwd()
    sys.path.insert(0, str(root))
    work = HERE / ".work" / f"record-{os.getpid()}"
    use_work_dir(work)
    from data_engineering_zoomcamp_projects_spark.registry import all_oracles, all_queries
    from data_engineering_zoomcamp_projects_spark.session import get_spark
    from tests.oracle import compare, run_oracle
    from workloads import EXPECTED_PATH, LLM_CORPUS, TPCH_EVENTS, digest

    sf = work / "sf0.1"
    tag = alias_testdata(testdata_dir(root), sf)
    spark = get_spark(app_name="perfbench-record")
    queries, oracles = all_queries(), all_oracles()
    ops: dict[str, dict] = {}
    bad: list[str] = []
    try:
        for op in (*TPCH_EVENTS, *LLM_CORPUS):
            df = queries[op](spark, str(sf))
            if op in oracles:
                problems = compare(df, run_oracle(oracles[op], str(sf)), op)
                if problems:
                    bad.extend(problems)
                    continue
            rows, dig = digest(df)
            ops[op] = {
                "rows": rows,
                "digest": dig if op in oracles else None,
                "oracle": "match" if op in oracles else "rows-only",
            }
            print(op, ops[op], flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        for p in model_cache_entries(root, tag):
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    EXPECTED_PATH.write_text(json.dumps({"tables": "sf0.1 seed-42 test data", "ops": ops}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
