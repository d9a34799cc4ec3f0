"""Dump `.explain("formatted")` for declared queries to
<outdir>/<query>_<suffix>.txt, so a plan claim can be checked against
the plan text (the default outdir, .plans/, is gitignored).

Usage: python tools/dump_plans.py [--suffix before|after]
                                  [--outdir .plans]
                                  [--sf-dir DIR] [query ...]

Default query set: the bench HEADLINE list (the timed surface).
Building a query may execute eager sub-jobs (pinned persists,
model-collect stages, iterative loops) exactly as the bench does; the
dumped plan is the FINAL returned DataFrame's initial AQE plan, the
same artifact `df.explain("formatted")` prints.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, ".")


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="dump_plans.py")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--outdir", default=".plans")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)

    from bench import HEADLINE
    from sparksync.queries import QUERIES
    from sparksync.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries or HEADLINE
    os.makedirs(args.outdir, exist_ok=True)
    for name in names:
        t0 = time.time()
        try:
            df = QUERIES[name](spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # keep going; a broken query shows up in the sweep
            plan = f"ERROR building {name}: {e!r}\n"
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"# {name}: {len(plan)} chars in {time.time() - t0:.1f}s -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
