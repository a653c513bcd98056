"""Registry-wide filter re-expansion audit (OPTIMIZATION_r14 item 5,
from the r13 pushdown-below-repartition pathology): for every
registered key, scan the formatted plan's Filter `Condition :` lines
for expensive-expression markers (aggregate/transform/zip_with/
array_distinct/levenshtein/sha2/md5) — Catalyst re-expands derived
projections while pushing filters through RepartitionByExpression, so
a marker inside a Filter can mean an expensive chain silently runs
twice, once on the one-task scan below the spread Exchange.

Prints one JSON object {key: {marker: n_conditions}} for adjudication.
There is no registry-wide allowlist test; the adjudicated keys are
pinned one by one in tests/test_physical_plans.py by three per-key
Condition-line tests: test_text_repetition_no_expensive_scan_side_filter,
test_emb_dedup_cosine_no_norm_fold_in_filters and
test_sim_search_lsh_no_signing_fold_in_filters.

Usage: python scripts/filteraudit.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from net7_etl_bus_spark.plans import registry  # noqa: E402
from net7_etl_bus_spark.session import get_spark  # noqa: E402

MARKERS = (
    "aggregate(", "transform(", "zip_with(", "array_distinct(",
    "levenshtein(", "sha2(", "md5(",
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/filteraudit.json"
    spark = get_spark("filteraudit")
    hits: dict[str, dict[str, int]] = {}
    errs: dict[str, str] = {}
    qs = registry.queries()
    for i, (name, fn) in enumerate(qs.items()):
        try:
            df = fn(spark, SF)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            errs[name] = repr(e)[:200]
            continue
        per: dict[str, int] = {}
        for ln in plan.splitlines():
            if not ln.strip().startswith("Condition :"):
                continue
            for m in MARKERS:
                if m in ln:
                    per[m] = per.get(m, 0) + 1
        if per:
            hits[name] = per
        if (i + 1) % 40 == 0:
            print(f"# {i + 1}/{len(qs)}", file=sys.stderr)
    record = {"sf": SF, "hits": hits, "errors": errs}
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
