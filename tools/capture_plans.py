"""Capture ``explain("formatted")`` output for named registry queries.

Usage: python tools/capture_plans.py OUT_DIR SUFFIX QUERY [QUERY ...]

Writes ``OUT_DIR/<query>_<SUFFIX>.txt`` for each query. Run from the
repo whose code should produce the plan (the round's ``_before`` files
come from a pristine HEAD worktree, the ``_after`` files from the
working tree), with ``SPARK_GRAFT_SF_DIR`` pointing at the data tier.

For ITERATIVE operators that pin per-iteration checkpoints the final
plan is mostly ``Scan ExistingRDD``: the captured plan documents exactly
what the bench executes (checkpoint scans included), not the shape of
one iteration. That shape is in the plan of each pinned frame; the
``pinned_plans`` fixture in ``tests/conftest.py`` records those by
wrapping ``localCheckpoint``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datapipelines_essentials_python_spark import get_or_create_spark_session  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_or_create_spark_session("capture_plans")
    registry = entry_mod.queries()
    for name in names:
        fn = registry[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
