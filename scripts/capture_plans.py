#!/usr/bin/env python
"""Batch-capture .explain("formatted") artifacts for plans/r06/.

  python scripts/capture_plans.py TREE_DIR SF_DIR OUT_DIR SUFFIX q1,q2,...

TREE_DIR lets the round-start worktree produce the *_before.txt files
(sys.path is pointed there), while HEAD produces *_after.txt. Queries
whose spark_fn runs eager work (loop checkpoints) execute that work
during construction — the artifact still shows the final plan the
driver's count() runs; per-round loop plans are captured separately by
scripts/capture_loop_plans.py.
"""
from __future__ import annotations

import contextlib
import io
import os
import sys


def main() -> None:
    tree, sf_dir, out_dir, suffix = sys.argv[1:5]
    names = [n for n in sys.argv[5].split(",") if n]
    sys.path.insert(0, tree)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as ent
    from unmixing_spark.session import get_spark

    spark = get_spark(app_name=f"plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({suffix}: tree={tree}, sf={sf_dir})\n")
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
