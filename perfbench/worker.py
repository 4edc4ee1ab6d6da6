"""One parallelism level of one workload, in its own process.

``python3 perfbench/worker.py <spec.json>`` pins itself to the CPUs the
spec names before anything else starts, so the JVM and the Python workers
it forks inherit exactly those cores; starts a Spark session with as many
task slots as cores; runs the workload; and writes the result next to the
spec. Launched by ``run.py``, which reads that file."""

from __future__ import annotations

import json
import os
import sys


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    cpus = set(spec["cpus"])
    os.sched_setaffinity(0, cpus)
    if os.sched_getaffinity(0) != cpus:
        raise SystemExit(f"could not pin to CPUs {sorted(cpus)}")
    sys.path.insert(0, spec["repo"])

    import tracing
    import workloads
    from dataflows_spark import build_session

    cores = len(cpus)
    work = spec["work"]
    spark = build_session(
        app_name=f"perfbench_{spec['workload']}_{cores}",
        master=f"local[{cores}]",
        cores=cores,
        # streaming state: one state partition per core (see streaming/windows.py)
        shuffle_partitions=cores if spec["params"].get("state_per_core") else None,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            **spec["params"].get("spark_conf", {}),
        },
    )
    lv = workloads.Level(
        spark=spark,
        cores=cores,
        inputs=spec["inputs"],
        work=work,
        t0=spec["t0"],
        traced=spec["traced"],
        params=spec["params"],
        tracer=tracing.Tracer(run_id=f"{spec['workload']}-seed{spec['seed']}-{cores}", enabled=spec["traced"]),
    )
    try:
        out = workloads.RUNNERS[spec["workload"]](lv)
        out["setup_s"] = lv.setup_s
        out["warmup_s"] = lv.warmup_s
        out["peak_rss_mb"] = tracing.tree_peak_rss_mb()
        out["cores"] = cores
        if spec["traced"]:
            lv.tracer.dump(os.path.join(work, "spans.json"))
    finally:
        spark.stop()
    with open(spec["result"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1])
