"""Record the golden digest of every explain call the session menus can
make, at each input scale, from the library as it is now.

    python3 perfbench/record_goldens.py            # rewrites perfbench/goldens.json

Run it from the repository root, only when the expected explanation rows
change on purpose; the benchmark counts any other change as a wrong
output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
import run  # noqa: E402


def main() -> int:
    goldens: dict[str, dict[str, str]] = {}
    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"goldens-{os.getpid()}")
    os.makedirs(tmp)
    try:
        run.pin_environment(tmp, trace=False)
        from pd_explain_spark import get_spark

        import tracing
        import workloads

        spark = get_spark("perfbench-goldens")
        try:
            for scale in sorted(gen.SCALES):
                data_dir = os.path.join(tmp, scale)
                info = gen.write_inputs("explain_sampled", 0, scale, data_dir)
                runner = workloads.ExplainSession(spark, tracing.Tracer(), data_dir)
                goldens[scale] = {}
                for step in gen.all_steps(info):
                    d = runner.run_step(step)["digest"]
                    goldens[scale][step["key"]] = d
                    print(scale, step["key"], d, flush=True)
        finally:
            run.stop_engine(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
