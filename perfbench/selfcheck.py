"""Self-check of the benchmark, and the one command that prints every
metric by name with its unit.

    python3 perfbench/selfcheck.py [--workload pipeline] [--seed 1]

Runs two samples of one workload. The first is a plain run whose golden
(or, for `queries`, whose first oracle result) is corrupted before the
output check: it must fail at least one check. The second is a traced run
with intact goldens: it must fail none. Prints every end-to-end metric of
the plain run, every per-layer metric of the traced run, and the tracing
overhead (traced minus plain). Exits 1 if a check misbehaves.
"""

from __future__ import annotations

import argparse
import os
import sys

import gen
import run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="pipeline", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, run.ROOT)

    inputs = gen.ensure_inputs(os.path.join(run.HERE, "_cache"),
                               args.workload, args.seed)
    plain = run.run_sample(args.workload, inputs, args.seed, trace=0,
                           corrupt=True)
    traced = run.run_sample(args.workload, inputs, args.seed, trace=1)

    units = run._units()
    print(f"# {args.workload}, seed {args.seed}")
    print("# end-to-end (plain run)")
    for name, v in run.end_to_end([plain]).items():
        print(f"{name} {v:.6g} {units[name]}")
    print("# per-layer (traced run)")
    for name, v in run.per_layer([traced]).items():
        print(f"{name} {v:.6g} {units[name]}")
    print("# tracing overhead (traced minus plain)")
    print(f"setup {traced['setup_s'] - plain['setup_s']:+.3f} s")
    print(f"wall {traced['wall_s'] - plain['wall_s']:+.3f} s")

    ok = True
    for label, s, want_failures in (("corrupted golden", plain, True),
                                    ("intact golden", traced, False)):
        ratio = s["failed"] / s["attempted"]
        print(f"# {label}: attempted={s['attempted']} failed={s['failed']} "
              f"fail_ratio={ratio:.6f}")
        if (s["failed"] > 0) != want_failures:
            print(f"SELF-CHECK FAILED: {label} run", file=sys.stderr)
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
