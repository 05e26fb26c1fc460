"""Child process of ``run.py``: runs one workload under the private
``TMPDIR``/``SPARK_LOCAL_DIRS`` that ``run.py`` set, and writes the
result JSON to ``--result``."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import tempfile
import traceback

from perfbench.common import Ctx, Result
from perfbench.spec import END_TO_END, PER_LAYER


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--root", "--out-dir", "--result"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    a = ap.parse_args()

    # tempfile falls back to /tmp when TMPDIR names a missing directory;
    # indexes would then leak across runs, so insist on the private one
    private = os.path.realpath(os.environ["TMPDIR"])
    if os.path.realpath(tempfile.gettempdir()) != private:
        print(f"perfbench: temp dir resolves to {tempfile.gettempdir()}, "
              f"not {private}", file=sys.stderr)
        return 3

    from activedata_etl_spark.io import DEFAULT_SF_DIR

    if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "lineitem.parquet")):
        print(f"perfbench: input tables not found under {DEFAULT_SF_DIR}",
              file=sys.stderr)
        return 2
    ctx = Ctx(workload=a.workload, seed=a.seed, seconds=a.seconds,
              trace=bool(a.trace), root=a.root, sf_dir=DEFAULT_SF_DIR,
              out_dir=a.out_dir)
    res = Result()
    try:
        importlib.import_module(f"perfbench.{a.workload}").run(ctx, res)
    except Exception:  # the run is void; report why and exit non-zero
        traceback.print_exc()
        return 1
    names = PER_LAYER if ctx.trace else END_TO_END
    for name, unit in names.items():
        if name not in res.metrics:
            if not ctx.trace:
                print(f"perfbench: {a.workload} did not measure {name}",
                      file=sys.stderr)
                return 1
            # a layer this workload never calls does no work in it
            res.put(name, 0.0, unit, 0)
    with open(a.result, "w") as f:
        json.dump(res.to_json(), f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
