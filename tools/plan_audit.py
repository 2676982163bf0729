"""Physical-plan audit over every registered query.

Flags the scale anti-patterns the 100 TB design bans from hot paths:
BroadcastNestedLoopJoin, CartesianProduct, and row-at-a-time Python
(BatchEvalPython); warns on ArrowEvalPython (allowed, but each use
must be a documented escape hatch).

Documented ArrowEvalPython escape hatches:
- mmaitag_classify / mmjsontransform_unflatten / scalar_battery_misc
  (pre-r12, see each operator)
- mmsnareparse: the description tokenizer+classifier runs as a
  compiled-regex Python UDF over Arrow batches (guide §4.2/§4.3);
  only the desc string crosses the boundary. The interpreted-HOF
  Column chain it replaced lost the perfbench `snare_parse` A/B on a
  4-core host: pass_cpu_s 6.37/6.86/7.36 s for the UDF vs
  7.15/8.40/7.91 s for the chain, 3 interleaved pairs, all correct.

Known-intentional BNLJ sites (all broadcast-SMALL-side, never
data×data):
- lookup_sparse / enrich_dims — interval-dim range joins (sparseArray
  as-of, GeoIP): the dim is config-sized and broadcast; for dims too
  big to broadcast the sort-merge as-of documented in
  operators/lookup.py replaces it.
- similarity_knn_join — every doc scored against the broadcast
  k-query set (k rows): the crossing is the semantics.
- bm25_search / hybrid_retrieval_rrf — the corpus N/avgdl scalars
  ride as a broadcast ONE-ROW cross join so the plan stays lazy
  (the alternative is a driver collect).

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from rsyslog_spark import get_spark

BAD = ("BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython")
WARN = ("ArrowEvalPython",)
INTENTIONAL_BNLJ = {"lookup_sparse", "enrich_dims", "similarity_knn_join",
                    # broadcast 1-ROW scalar-stats cross join (bm25
                    # N/avgdl, LM vocab size V ride the plan instead
                    # of a collect)
                    "bm25_search", "hybrid_retrieval_rrf",
                    "lm_perplexity_filter"}


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[1:])
    bad = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"FAIL  {name}: plan error {type(e).__name__}")
            bad += 1
            continue
        hits = [b for b in BAD if b in plan]
        if ("BroadcastNestedLoopJoin" in hits
                and name in INTENTIONAL_BNLJ):
            hits.remove("BroadcastNestedLoopJoin")
            print(f"ok    {name}: intentional broadcast-small BNLJ")
        warns = [w for w in WARN if w in plan]
        if hits:
            print(f"BAD   {name}: {hits}")
            bad += 1
        elif warns:
            print(f"warn  {name}: {warns}")
    print(f"{'FAIL' if bad else 'PASS'}: {bad} queries with banned plan nodes")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
