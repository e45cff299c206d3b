"""Write PLAN_SHAPES.json: for every ``__spark_entry__.queries()`` key, how
many times each physical-plan node appears in the key's executed plan at
sf0.001 — one line per key, keys and node names sorted.

Node counts carry no expression ids, partition counts or codegen stage
numbers, so the manifest only changes where a plan really changed shape,
and it is the same at any ``local[N]``. ``tests/test_plans.py`` re-plans
every key and fails, naming the key and each node whose count moved, when
a plan no longer matches its line here; regenerate after a deliberate
shape change and review the diff.

Usage: python tools/plan_shapes.py
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "PLAN_SHAPES.json")

# One tree line: indentation and branch glyphs (" ", ":", "+-", ":-"), an
# optional whole-stage-codegen prefix "*(n) ", then the node name.
_NODE = re.compile(r"[\s:+-]*(?:\*\(\d+\) )?([A-Z][A-Za-z0-9]*)")


def node_counts(plan_text: str) -> dict[str, int]:
    """Node name -> occurrences, over the lines of
    ``queryExecution().executedPlan().toString()``."""
    counts = collections.Counter(
        m.group(1) for line in plan_text.splitlines() if (m := _NODE.match(line))
    )
    return dict(sorted(counts.items()))


def main() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from rocana_impala_udfs_spark import get_spark

    spark = get_spark("plan-shapes")
    shapes = {}
    for key, build in sorted(entrymod.queries().items()):
        plan = build(spark, entrymod.SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        shapes[key] = node_counts(plan)
    with open(MANIFEST, "w") as fh:
        fh.write("{\n")
        fh.write(",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in shapes.items()))
        fh.write("\n}\n")
    print(f"wrote {MANIFEST} ({len(shapes)} keys)")


if __name__ == "__main__":
    main()
