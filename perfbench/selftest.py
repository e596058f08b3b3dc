"""Self-tests of the benchmark itself: ``python3 perfbench/run.py --selftest``.

1. The seeded generator: the same seed gives the same op sequence and
   hour picks; another seed gives the same op multiset in another order;
   every op names a registry query.
2. Job attribution: on a query that runs jobs from a library thread pool
   (``partition_evolution_audit``), the jobs counted by the job-id
   watermark equal the jobs the Spark UI REST API lists for the op, while
   a job-group count misses the pool threads' jobs.
3. Isolation: a benchmark run leaves the checkout as it found it (same
   ``git status``, same top-level entries, no temp root left behind),
   apart from its results and its oracle cache.
"""

from __future__ import annotations

import collections
import os
import subprocess
import sys

POOLED_QUERY = "partition_evolution_audit"


def check_generator() -> list[str]:
    import workloads as W

    from myserver_datawarehouse_spark import registry

    names = {s.name for s in registry.specs()}
    problems = []
    for w in W.WORKLOADS:
        a, b = W.sequence(w, 1, 3), W.sequence(w, 1, 3)
        c = W.sequence(w, 2, 3)
        if a != b:
            problems.append(f"{w}: seed 1 gave two different sequences")
        if collections.Counter(map(W.op_label, a)) != collections.Counter(
            map(W.op_label, c)
        ):
            problems.append(f"{w}: seeds 1 and 2 ran different op multisets")
        if [W.op_label(x) for x in a] == [W.op_label(x) for x in c]:
            problems.append(f"{w}: seeds 1 and 2 gave the same order")
        unknown = {x[1] for x in a if x[0] == "query"} - names
        if unknown:
            problems.append(f"{w}: not in the registry: {sorted(unknown)}")
        hours = [x[1] for x in a if x[0] == "hour"]
        if hours != sorted(set(hours)) or (hours and hours[-1] - hours[0] != len(hours) - 1):
            problems.append(f"{w}: hour batches are not consecutive: {hours}")
        seen: set[int] = set()
        for kind, h in a:
            if kind == "hour":
                seen.add(h)
            elif kind == "replay" and h not in seen:
                problems.append(f"{w}: replay of hour {h} before it was ingested")
    return problems


def check_job_attribution(root: str) -> list[str]:
    import run as R
    import tracing as T

    dirs = R.RunDirs(root)
    dirs.enter()
    try:
        import datagen

        datagen.write_tables(dirs.data, R.SCALE, R.DATA_SEED)
        from myserver_datawarehouse_spark import registry

        spark = R.start_spark(dirs)
        probe = T.SparkProbe(spark)
        sc = spark.sparkContext
        spec = {s.name: s for s in registry.specs()}[POOLED_QUERY]
        probe.drain()
        rest_before = len(probe.jobs())
        lo = probe.next_job_id()
        sc.setJobGroup("selftest", POOLED_QUERY)
        spec.spark(spark, dirs.data).toPandas()
        hi = probe.next_job_id()
        grouped = len(sc.statusTracker().getJobIdsForGroup("selftest"))
        probe.drain()
        rest_total = len(probe.jobs()) - rest_before
        print(f"selftest: {POOLED_QUERY}: watermark jobs {hi - lo}, "
              f"REST jobs {rest_total}, job-group jobs {grouped}", file=sys.stderr)
        problems = []
        if hi - lo != rest_total:
            problems.append(f"watermark counted {hi - lo} jobs, REST lists {rest_total}")
        if grouped >= rest_total:
            problems.append(
                f"job group saw {grouped} of {rest_total} jobs: the pooled "
                "query ran no job outside the group")
        return problems
    finally:
        R.stop_spark()
        dirs.remove()


def _git_status(root: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=root, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def check_isolation(root: str) -> list[str]:
    status0 = _git_status(root)
    entries0 = set(os.listdir(root))
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", "corpus_curation", "--seed", "1", "--seconds", "1"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    problems = []
    if proc.returncode != 0:
        problems.append(f"benchmark run exited {proc.returncode}: {proc.stderr[-500:]}")
    if status0 is not None and _git_status(root) != status0:
        problems.append("git status changed after a run")
    new = set(os.listdir(root)) - entries0 - {".perfbench_out", ".perfbench_cache"}
    if new:
        problems.append(f"a run left new entries in the checkout: {sorted(new)}")
    return problems


def main(root: str) -> int:
    failures = 0
    for name, test in (
        ("generator", check_generator),
        ("isolation", lambda: check_isolation(root)),
        ("job attribution", lambda: check_job_attribution(root)),
    ):
        problems = test()
        failures += bool(problems)
        print(f"selftest {name}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
    return 1 if failures else 0
