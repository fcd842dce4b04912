"""Dump explain("formatted") for named queries to <out_dir>/<q>_<tag>.txt.

Ids that a session assigns in creation order are normalized (expression
ids ``#123``, ``plan_id``s, lambda variable suffixes, RDD ids, codegen
ids and query-stage ids, which the AQE final plans inside a pinned
intermediate number in materialization order), as is the checkout
path, so two dumps of the same plan from different sessions or commits
compare with a plain ``diff -r``.

Usage: python scripts/dump_plans.py <out_dir> <tag> <query> [query ...]
  out_dir: directory for the plan files (created if missing)
  tag:     file suffix, e.g. 'before' or 'after'
  queries: names from __spark_entry__.queries()
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

Construction-eager queries still produce a plan for the returned
DataFrame; the collapse persists they run at construction are part of
the operator and show up as InMemoryTableScan leaves.
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402


_SESSION_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(QueryStage\n(?:Output .*\n)?Arguments: )\d+"), r"\1N"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _SESSION_IDS:
        plan = pattern.sub(repl, plan)
    return plan.replace(_REPO, "<repo>")


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit("usage: dump_plans.py <out_dir> <tag> <query> [query ...]")
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from m12_kafkastreams_python_azure_spark.plans.checks import explain_str
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        release_parallel_caches,
    )

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = normalize(explain_str(df))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
        spark.catalog.clearCache()
        release_parallel_caches()


if __name__ == "__main__":
    main()
