"""Dump .explain('formatted') for named registered queries to files.

    python scripts/dump_plan.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query (the plan artifacts in
plans/r06/).  Uses sf0.01 (the scale of the oracle checks) so plans stay
small; plan SHAPE (exchanges, join strategies, pushed filters) is
scale-independent.

Expression ids (``#123``, ``#45L``) are written as ``#``: they count up
with every expression a session creates, so two checkouts' dumps of the
same plan differ in them.  With the ids stripped, ``diff`` of a parent's
and a change's dump shows only what the change did to the plan.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main(argv: list[str]) -> int:
    outdir, suffix, names = argv[0], argv[1], argv[2:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from vt_grid_spark.session import get_spark

    spark = get_spark("plan-dump", cores=8, shuffle_partitions=16)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        plan = re.sub(r"#\d+L?", "#", plan)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
