"""Plan-node counting of tools/registry_sweep.py on a canned plan."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "registry_sweep",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "registry_sweep.py"))
_rs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_rs)

PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- Sort [n#1 ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(n#1 ASC NULLS FIRST, 4)
      +- SortMergeJoin [k#2], [k#3], Inner
         :- Sort [k#2 ASC NULLS FIRST], false, 0
         :  +- HashAggregate(keys=[k#2], functions=[count(1)])
         :     +- Exchange hashpartitioning(k#2, 4)
         :        +- HashAggregate(keys=[k#2], functions=[partial_count(1)])
         :           +- ObjectHashAggregate(keys=[k#2], functions=[collect_list(v#4)])
         :              +- Scan parquet [k#2,v#4]
         +- BroadcastHashJoin [k#3], [k#5], Inner, BuildRight
            :- SortAggregate(key=[k#3], functions=[first(v#6)])
            :  +- Scan parquet [k#3,v#6]
            +- BroadcastExchange HashedRelationBroadcastMode
               +- ArrowEvalPython [tok(d#7)], [pythonUDF0#8], 200
                  +- Scan parquet [k#5,d#7]
"""


def test_count_plan_nodes_whole_words():
    assert _rs.count_plan_nodes(PLAN) == {
        "Exchange": 2, "BroadcastHashJoin": 1, "SortMergeJoin": 1,
        "ArrowEvalPython": 1, "Sort": 2, "HashAggregate": 2,
        "ObjectHashAggregate": 1, "SortAggregate": 1}


def test_count_plan_nodes_empty_plan():
    assert _rs.count_plan_nodes("LocalTableScan <empty>, [a#1]") == {}
