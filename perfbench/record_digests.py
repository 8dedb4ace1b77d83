"""Record the reference map digests the build workloads check against.

    python3 perfbench/record_digests.py --seeds 0-39 --workloads points_deep wkb_3layer

Builds each build workload's store once per seed in one session and
writes (map rows, Σ xxhash64 digest) to perfbench/expected.json. Run it
only on a commit whose tile output is known good (tier-1 green, tile
byte-parity tests passing): every later benchmark run of those seeds
fails its output check if its map differs. ``retile`` needs no table:
each run checks it against a full rebuild made in its own set-up.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--workloads", nargs="+", default=["points_deep", "wkb_3layer"],
                    choices=["points_deep", "wkb_3layer"])
    args = ap.parse_args(argv)
    lo, hi = (int(v) for v in args.seeds.split("-"))

    from run import _env

    work = HERE.parent / ".perfbench_out" / f"record-{os.getpid()}"
    _env(work)
    from harness import Tracer, start_spark, stop_jvm
    from workloads import WORKLOADS, check_store, record_digest

    spark = start_spark(work)
    try:
        for seed in range(lo, hi + 1):
            for name in args.workloads:
                wl = WORKLOADS[name](spark, seed, work, Tracer())
                wl.prepare_inputs()
                store = wl.new_store()
                wl.op(store)
                # row count always; an already recorded digest must repeat
                ok, digest, why = check_store(wl, store, None)
                if not ok:
                    raise SystemExit(f"{name} seed {seed}: {why}")
                record_digest(name, seed, digest)
                print(name, seed, digest, flush=True)
                shutil.rmtree(store, ignore_errors=True)
                wl.drop_inputs()
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
