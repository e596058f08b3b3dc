"""spark-dw benchmark: seeded workloads, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It generates its input tables from a
fixed data seed, starts one Spark session on ``local[<cores / 2>]``, then
runs the workload's op sequence (see ``workloads.py``): the next op starts
when the previous one returns. Each op is timed from outside the program,
and every op's output is checked after the timed loop (see ``checks.py``).

``--seconds`` fixes the run's work, not its length: a whole number of
timed passes over the workload's op multiset (``PASS_SECONDS``), at least
one, so a faster program finishes the same work sooner. Inputs are the
sf0.1 table shapes; the workloads and their op lists are in
``workloads.py``.

The second-to-last stdout line is a summary with every metric, its unit,
the percentile and sample count behind each timing, the failure share and
host steal; the last line is the result JSON. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from a traced run
(see ``tracing.py`` and ``layers.py``). Every run writes its ops
(latency, host steal, check problems) to ``.perfbench_out/ops-*.json``;
a traced run writes its spans to ``.perfbench_out/spans-*.json``.

End-to-end metrics (tracing off):

- ``setup_s``: process start to the first timed op: imports, input
  generation, JVM launch and Spark session start, then an untimed warm
  pass that runs every distinct op of the workload at least once (table
  touch, Python worker spin-up, each plan's first compile).
- ``wall_s``: first op start to last op end.
- ``op_p50_s`` / ``op_tail_s``: op latency (plan build, execution,
  collect, commit). The tail is the highest percentile with at least 10
  samples beyond it; a run of fewer than 20 ops reports its slowest op.

Printed in the summary too: ``fail_frac`` and, for ``ingest_writes``,
``freshness_p50_s`` / ``freshness_tail_s`` (hour batch start to its
validated, interpolated output) and ``space_amp`` (bytes on disk of the
fact table at the end over the bytes of input its batches ingested).

Each run works in a fresh temp root under ``.perfbench_tmp/`` in the
checkout (inputs, work dirs, warehouse, checkpoints, Spark local dirs,
the JVM's tmpdir and the process cwd) and removes it at exit. DuckDB
oracle results are kept in ``.perfbench_cache/`` for later runs in the
same checkout (see ``checks.OracleCache``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "myserver_datawarehouse_spark"

SCALE = 0.1  # row counts of the sf0.1 test data
DATA_SEED = 42
EVENTS_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, the events table's start
DRIVER_MEM = "4g"

PASS_SECONDS = 15.0  # ``--seconds`` per timed pass

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}


def process_start() -> float:
    """This process's start time on the ``perf_counter`` clock."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


T_PROCESS = process_start()


def passes(seconds: int) -> int:
    return max(1, round(seconds / PASS_SECONDS))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    10 samples beyond it. Below 20 samples that percentile would sit under
    the median, so the tail is the slowest sample (percentile 100)."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


class RunDirs:
    """The run's private temp root and the environment that points every
    writer of the program, Spark and the JVM into it."""

    def __init__(self, root: str) -> None:
        self.base = os.path.join(
            root, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}"
        )
        for sub in ("data", "tmp", "local", "warehouse", "ckpt", "work"):
            os.makedirs(os.path.join(self.base, sub))
        self.data = os.path.join(self.base, "data")
        self.tmp = os.path.join(self.base, "tmp")
        self.local = os.path.join(self.base, "local")
        self.warehouse = os.path.join(self.base, "warehouse")
        self.ckpt = os.path.join(self.base, "ckpt")
        self.work = os.path.join(self.base, "work")

    def enter(self) -> None:
        import tempfile

        # Spark gets half the cores as task slots; the driver JVM, the
        # Python driver and the Python workers run on the rest. On a shared
        # virtual host, keeping every vCPU busy with tasks drew several
        # times the steal and made op latency vary far more from run to run.
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        })
        os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
        tempfile.tempdir = None
        os.chdir(self.tmp)

    def spark_conf(self, trace: bool = True) -> dict[str, str]:
        # A traced run reads every job, stage and SQL execution back from
        # the Spark UI, so it keeps them all; an untraced run keeps Spark's
        # defaults.
        retained = {
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        } if trace else {}
        return {
            **retained,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": self.local,
            "spark.msdw.checkpointDir": self.ckpt,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={self.tmp}"
            ),
        }

    def remove(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def start_spark(dirs: RunDirs, trace: bool = True):
    from myserver_datawarehouse_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=dirs.spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(dirs.ckpt)
    return spark


def stop_spark() -> None:
    """Stop Spark and the JVM, if started, and wait until every process
    they started (the JVM, the Python worker daemon and its workers) has
    ended."""
    from pyspark import SparkContext

    import tracing as T

    kids = [p for p in T.tree_pids(os.getpid()) if p != os.getpid()]
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin and proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in kids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie has ended. Reaps it if it is
    this process's child."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, args, dirs: RunDirs) -> None:
        self.args = args
        self.dirs = dirs
        self.trace = bool(args.trace)
        self.check_s = 0.0
        self.tracer = None
        self.probe = None
        self.records: list[dict] = []

    # -- setup ---------------------------------------------------------
    def setup(self):
        import datagen

        datagen.write_tables(self.dirs.data, SCALE, DATA_SEED)
        if self.trace:
            import tracing as T

            self.tracer = T.Tracer(self.dirs.base)
            self.tracer.install()  # before registry imports the plans
        from myserver_datawarehouse_spark import pipeline, registry

        self.pipeline = pipeline
        self.specs = {s.name: s for s in registry.specs()}
        self.spark = start_spark(self.dirs, self.trace)
        launch_s = time.perf_counter() - T_PROCESS
        # The untimed warm pass (``workloads.warm_sequence``): it pays each
        # plan's first compile and the JVM's warm-up, which would otherwise
        # land on whichever ops the seed puts first.
        import workloads as W

        for op in W.warm_sequence(self.args.workload):
            t0 = time.perf_counter()
            try:
                self._run_op(op, {}, workdir=os.path.join(self.dirs.work, "warm"))
            except Exception as e:  # noqa: BLE001 - the timed op will fail too
                print(f"perfbench: warm {W.op_label(op)} raised {e!r:.200}",
                      file=sys.stderr)
            print(f"perfbench: warm {W.op_label(op)} {time.perf_counter() - t0:.3f} s",
                  file=sys.stderr)
        self.setup_s = time.perf_counter() - T_PROCESS
        self.setup_detail = {"launch_s": launch_s}

    # -- ops -----------------------------------------------------------
    def _run_op(self, op: tuple, rec: dict, workdir: str | None = None) -> None:
        kind, arg = op
        if kind == "query":
            spec = self.specs[arg]
            df = spec.spark(self.spark, self.dirs.data)
            rec["t_build"] = time.perf_counter()
            if self.probe is not None and "job_lo" in rec:
                rec["job_mid"] = self.probe.next_job_id()
            rec["pdf"] = df.toPandas()
            rec["df"] = df
        else:
            hour_start = EVENTS_EPOCH + 3600 * arg
            interp = self.pipeline.hourly_pipeline(
                self.spark, self.dirs.data,
                workdir=workdir or self.dirs.work, hour_start=hour_start,
            )
            rec["interp"] = interp.toPandas()
            rec["validation"] = self.pipeline.validate(interp).toPandas()
            rec["hour_start"] = hour_start

    def run_ops(self, seq: list[tuple], traced: bool) -> list[dict]:
        from bench import _cpu_ticks, _steal_pct

        import workloads as W

        recs = []
        for op in seq:
            label = W.op_label(op)
            rec = {"op": op, "label": label, "index": len(self.records)}
            if traced:
                self.tracer.begin_op(rec["index"], label)
                self.spark.sparkContext.setJobGroup(f"op{rec['index']}", label)
                rec["job_lo"] = self.probe.next_job_id()
            c0 = _cpu_ticks()
            t0 = time.perf_counter()
            try:
                self._run_op(op, rec)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                rec["error"] = f"{type(e).__name__}: {str(e)[:400]}"
            t1 = time.perf_counter()
            rec.update(t0=t0, t1=t1, steal=_steal_pct(c0, _cpu_ticks()))
            print(f"perfbench: op {rec['index']} {label} {t1 - t0:.3f} s"
                  + (" FAILED" if "error" in rec else ""), file=sys.stderr)
            if traced:
                rec["job_hi"] = self.probe.next_job_id()
                self.tracer.end_op()
                rec["group_jobs"] = len(
                    self.spark.sparkContext.statusTracker().getJobIdsForGroup(
                        f"op{rec['index']}")
                )
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if "df" in rec:
                    rec["plan"] = self._plan_counts(rec["df"])
            self.records.append(rec)
            recs.append(rec)
        return recs

    def _plan_counts(self, df) -> dict:
        from profile_query import plan_counts

        try:
            return plan_counts(df)
        except Exception:  # noqa: BLE001 - a plan that cannot re-explain
            return {}

    # -- checks --------------------------------------------------------
    def check(self, recs: list[dict]) -> None:
        import checks
        import datagen

        t0 = time.perf_counter()
        checker = checks.Checker(
            self.dirs.data, os.path.join(ROOT, ".perfbench_cache", "oracle"),
            datagen.inputs_key(SCALE, DATA_SEED))
        hours: dict[int, list[dict]] = {}
        for rec in recs:
            if "error" in rec:
                rec["problems"] = [rec["error"]]
                continue
            try:
                if rec["op"][0] == "query":
                    spec = self.specs[rec["op"][1]]
                    rec["problems"] = checker.query(spec, rec["df"], rec["pdf"])
                else:
                    rec["problems"] = checker.hour(
                        rec["hour_start"], rec["interp"], rec["validation"])
                    rec["batch_rows"] = checker.hour_rows(rec["hour_start"])
                    hours.setdefault(rec["hour_start"], []).append(rec)
            except Exception as e:  # noqa: BLE001 - a check that breaks fails
                rec["problems"] = [f"check raised {type(e).__name__}: {e}"]
        if hours:
            try:
                fact = self.spark.read.parquet(
                    os.path.join(self.dirs.work, "fact_events"))
                diffs = checker.fact_table(fact, set(hours))
            except Exception as e:  # noqa: BLE001 - every batch fails
                diffs = {h: [f"fact check raised {type(e).__name__}: {e}"] for h in hours}
            for h, problems in diffs.items():
                for rec in hours[h]:
                    rec["problems"] = rec["problems"] + problems
        for rec in recs:
            for key in ("df", "pdf", "interp", "validation"):
                rec.pop(key, None)
        self.check_s += time.perf_counter() - t0

    # -- metrics -------------------------------------------------------
    def end_to_end(self, recs: list[dict]) -> tuple[dict, dict]:
        import tracing as T

        lat = [r["t1"] - r["t0"] for r in recs]
        tail_v, tail_p, n = tail(lat)
        metrics = {
            "setup_s": self.setup_s,
            "wall_s": recs[-1]["t1"] - recs[0]["t0"],
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
        }
        failed = sum(1 for r in recs if r["problems"])
        steal = [r["steal"] for r in recs if r["steal"] >= 0]
        detail = {
            "op_tail_pct": round(tail_p, 2),
            "op_samples": n,
            "fail_frac": failed / len(recs),
            "steal_pct_p50": statistics.median(steal) if steal else -1.0,
            "steal_pct_max": max(steal) if steal else -1.0,
            "cores": len(os.sched_getaffinity(0)),
            "spark_cores": self.dirs.cores,
            "check_s": self.check_s,
            **self.setup_detail,
        }
        batches = [r for r in recs if r["op"][0] != "query"]
        ingested_rows = sum(
            r.get("batch_rows", 0) for r in self.records if r["op"][0] != "query")
        if batches:
            fresh = [r["t1"] - r["t0"] for r in batches]
            f_v, f_p, f_n = tail(fresh)
            fact = os.path.join(self.dirs.work, "fact_events")
            import datagen

            per_row = os.path.getsize(
                os.path.join(self.dirs.data, "events.parquet")
            ) / datagen.row_counts(SCALE)["events"]
            ingested = ingested_rows * per_row
            detail.update({
                "freshness_p50_s": statistics.median(fresh),
                "freshness_tail_s": f_v,
                "freshness_tail_pct": round(f_p, 2),
                "freshness_samples": f_n,
                "space_amp": T.tree_bytes(*T.watch_dirs(fact)) / ingested if ingested else 0.0,
            })
        return metrics, detail


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside {HERE}; run it from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    # The benchmark's modules, the package, and the repo's tools it reuses
    # (``tools/verify_local``, ``tools/profile_query``, ``bench``).
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    if args.selftest:
        import selftest

        return selftest.main(ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: --workload must be one of {W.WORKLOADS}", file=sys.stderr)
        return 2
    # A kill from outside still stops Spark and removes the temp root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    dirs = RunDirs(ROOT)
    dirs.enter()
    bench = Bench(args, dirs)
    try:
        result, summary = run(bench, args)
    finally:
        t0 = time.perf_counter()
        if "pyspark" in sys.modules:
            stop_spark()
        dirs.remove()
    summary["teardown_s"] = time.perf_counter() - t0
    print(json.dumps(summary), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def run(bench: Bench, args) -> tuple[dict, dict]:
    import workloads as W

    bench.setup()
    n_passes = passes(args.seconds)
    seq = W.sequence(args.workload, args.seed, n_passes + (2 if args.trace else 0))
    per_pass = len(seq) // (n_passes + (2 if args.trace else 0))
    measured = seq[: per_pass * n_passes]
    if args.trace:
        import tracing as T

        bench.probe = T.SparkProbe(bench.spark)
        streams = T.make_stream_probe()
        bench.spark.streams.addListener(streams)
        rss = T.RssSampler()
        rss.start()
    recs = bench.run_ops(measured, traced=bool(args.trace))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    if args.trace:
        import layers

        bench.probe.drain()
        stream = streams.summary(upto=len(streams.batches))
        rss_peak_mb = rss.stop()
        # Tracing overhead: one op of each kind untraced, then one of each
        # kind traced, drawn from two more seeded passes.
        extra = seq[len(measured):]
        plain = bench.run_ops(W.distinct(extra[:per_pass]), traced=False)
        traced = bench.run_ops(W.distinct(extra[per_pass:]), traced=True)
        overhead_s = (traced[-1]["t1"] - traced[0]["t0"]) - (plain[-1]["t1"] - plain[0]["t0"])
        shown = layers.per_layer(bench, recs, stream, rss_peak_mb, overhead_s)
        units = layers.UNITS
        bench.check(recs + plain + traced)
        bench.tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
    else:
        bench.check(recs)
    metrics, detail = bench.end_to_end(recs)
    if not args.trace:
        shown, units = metrics, END_TO_END_UNITS
    failed_recs = [r for r in bench.records if r["problems"]]
    result = {
        "correct": not failed_recs,
        "attempted": len(bench.records),
        "failed": len(failed_recs),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": n_passes, "ops": len(recs),
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()},
        **detail,
        "failures": [
            {"op": r["label"], "problems": r["problems"][:3]} for r in failed_recs
        ][:10],
    }
    with open(os.path.join(out_dir, f"ops-{tag}.json"), "w") as fh:
        json.dump({"summary": summary, "ops": [
            {"op": r["label"], "arg": r["op"][1], "latency_s": r["t1"] - r["t0"],
             "steal_pct": r["steal"], "problems": r["problems"]}
            for r in bench.records
        ]}, fh)
    return result, summary


if __name__ == "__main__":
    raise SystemExit(main())
