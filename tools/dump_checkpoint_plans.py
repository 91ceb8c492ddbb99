"""Dump .explain('formatted') for every eager localCheckpoint a catalog
query executes at plan-BUILD time.

Evidence tool for plan-time-executed subtrees (r14 VERDICT ask #5: the
MMR candidate-pair joins run INSIDE an eager checkpoint job, so the
declared plan cannot show them — the checkpoint job's plan is the
artifact that proves the broadcast shape). Monkeypatches
DataFrame.localCheckpoint to capture the physical plan of each frame
being checkpointed, without touching any operator code.

Usage:
    PYTHONPATH=. python tools/dump_checkpoint_plans.py <suffix> <out_dir> \
        <query> [<query> ...]

Writes <out_dir>/<query>_ckpt<N>_<suffix>.txt per checkpoint, in
checkpoint execution order (sf0.001 — plan shape, not data volume).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    suffix, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    # Spark 4: pyspark.sql.DataFrame is the abstract facade; instances
    # are the classic concrete class, whose method must be patched.
    from pyspark.sql.classic.dataframe import DataFrame

    from migrate_cassandra_to_mysql_spark.plans import catalog
    from migrate_cassandra_to_mysql_spark.session import get_spark

    spark = get_spark("mc2m-ckpt-plan-dump")
    qs = catalog.queries()

    orig = DataFrame.localCheckpoint
    captured: list[str] = []

    def capturing(self, *args, **kwargs):
        plan = self._sc._jvm.PythonSQLUtils.explainString(
            self._jdf.queryExecution(), "formatted"
        )
        captured.append(plan)
        return orig(self, *args, **kwargs)

    DataFrame.localCheckpoint = capturing
    try:
        for name in names:
            captured.clear()
            qs[name](spark, SF_DIR)
            for i, plan in enumerate(captured):
                path = os.path.join(
                    out_dir, f"{name}_ckpt{i}_{suffix}.txt"
                )
                with open(path, "w") as f:
                    f.write(plan)
                print(f"wrote {path} ({len(plan)} bytes)")
    finally:
        DataFrame.localCheckpoint = orig
    spark.stop()


if __name__ == "__main__":
    main()
