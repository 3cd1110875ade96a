"""Per-query isolation harness (guide §1.4): times each headline query with
the noop sink (computation only, no sink cost), optionally dumps
``.explain("formatted")`` per query, and can interleave two repo states'
numbers are NOT produced here — this is the builder's profiling tool;
``bench.py`` stays the frozen driver contract.

Usage:
  python bench_extra.py time   [query ...]      # noop-sink wall per query
  python bench_extra.py plans  [query ...]      # dump plans to plans/r08/
  python bench_extra.py pipeline                # e2e stage walls

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_EXTRA_REPS (default 3),
     BENCH_EXTRA_SUFFIX (plan filename suffix, default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import HEADLINE_QUERIES  # noqa: E402


def _spark():
    from datasketches_pig_spark.session import get_spark, warm_python_workers

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=2 * cpus)
    warm_python_workers(spark)
    return spark


def cmd_time(names: list[str]) -> None:
    from datasketches_pig_spark.queries import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    spark = _spark()
    reg = registry()
    out: dict[str, list[float]] = {}
    for name in names or HEADLINE_QUERIES:
        fn, _ = reg[name]
        samples = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name}#{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(json.dumps({name: samples}), flush=True)
    print(json.dumps({"all": out}))
    spark.stop()


def cmd_plans(names: list[str]) -> None:
    from datasketches_pig_spark.queries import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suffix = os.environ.get("BENCH_EXTRA_SUFFIX", "before")
    plan_dir = Path(__file__).resolve().parent / "plans" / "r08"
    plan_dir.mkdir(parents=True, exist_ok=True)
    spark = _spark()
    reg = registry()
    for name in names or HEADLINE_QUERIES:
        fn, _ = reg[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # streaming_replay materializes eagerly
            plan = f"(plan capture failed: {e})"
        (plan_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")
    spark.stop()


def cmd_pipeline() -> None:
    import tempfile, shutil

    from datasketches_pig_spark.config import DedupConfig
    from datasketches_pig_spark.data.clips import generate_clips_spark
    from datasketches_pig_spark.pipeline import run_pipeline

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    groups = {"0.001": 150, "0.01": 500, "0.1": 2000}.get(sf, 2000)
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "2"))
    spark = _spark()
    tmp = tempfile.mkdtemp(prefix="dsps_bx_")
    try:
        clips = generate_clips_spark(spark, groups, seed=42, out_dir=tmp)
        clips.count()
        for r in range(reps):
            t0 = time.time()
            result = run_pipeline(spark, clips, DedupConfig())
            result.clusters.count()
            wall = round(time.time() - t0, 3)
            print(
                json.dumps(
                    {
                        "rep": r,
                        "wall": wall,
                        "stages": [
                            {k: e[k] for k in ("stage", "wall_s") if k in e}
                            for e in result.lineage
                        ],
                    }
                ),
                flush=True,
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    rest = sys.argv[2:]
    if cmd == "time":
        cmd_time(rest)
    elif cmd == "plans":
        cmd_plans(rest)
    elif cmd == "pipeline":
        cmd_pipeline()
    else:
        raise SystemExit(f"unknown command {cmd}")
