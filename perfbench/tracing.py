"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark's own files. Spans come from
wrapping the package's public functions by patching module attributes;
``install`` must run before ``registry`` imports the plan modules, so
their ``from ... import f`` bindings pick up the wrappers too. The
untraced run never calls ``install``, so it pays nothing.

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  counts calls, seconds and, for the writer layers, files and bytes
  written under each call's target directories.
- ``SparkProbe`` reads what the Spark engine recorded: the job-id
  watermark that attributes every job to the op that ran it (job groups
  miss the jobs started from library thread pools), then per-stage and
  per-SQL-node metrics from the UI's REST API once the run is over.
- ``StreamProbe`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress.
- ``RssSampler`` samples the resident memory of the whole process tree
  (this process, the JVM and the Python workers).
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import statistics
import threading
import time
import urllib.request

# Layers wrapped in the traced run: (span prefix, module). The writer
# layers are the ones that decide whether an op counts as a read.
LAYERS = (
    ("session", "myserver_datawarehouse_spark.session"),
    ("sources", "myserver_datawarehouse_spark.sources.tables"),
    ("sources", "myserver_datawarehouse_spark.sources.files"),
    ("pipeline", "myserver_datawarehouse_spark.pipeline"),
    ("merge", "myserver_datawarehouse_spark.operators.merge"),
    ("evolution", "myserver_datawarehouse_spark.operators.evolution"),
    ("stream", "myserver_datawarehouse_spark.streaming.jobs"),
)
WRITER_LAYERS = ("merge", "evolution")


def watch_dirs(path: str) -> list[str]:
    """A table path and the hidden sibling its writer keeps versions in
    (``<dir>/.<name>.versions``; the path itself is a symlink into it)."""
    p = path.rstrip("/")
    return [p, os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.versions")]


def _inodes(paths) -> dict[int, tuple[int, int]]:
    """{inode: (size, mtime_ns)} of the regular files under ``paths``.
    Keyed by inode: a writer that carries a file into a new version by
    hardlink has not written it again."""
    out: dict[int, tuple[int, int]] = {}
    for top in paths:
        if os.path.isfile(top):
            st = os.stat(top)
            out[st.st_ino] = (st.st_size, st.st_mtime_ns)
            continue
        for root, _dirs, files in os.walk(top):
            for f in files:
                try:
                    st = os.lstat(os.path.join(root, f))
                except OSError:
                    continue
                out[st.st_ino] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(*paths: str) -> int:
    """Bytes on disk under ``paths``, each hardlinked file counted once."""
    return sum(size for size, _ in _inodes(paths).values())


class Tracer:
    """Spans of the ops of one run. Wrapped functions record a span only
    while an op is running; pool threads inherit the op's id and hang their
    spans under the op span."""

    def __init__(self, run_root: str) -> None:
        self.run_root = run_root
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._op_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self.targets: dict[str, set[str]] = {}  # writer layer -> table dirs

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": st[-1] if st else self._op_span, "op": self.op_id}
        with self._lock:
            self.spans.append(rec)
            sid = len(self.spans) - 1
        st.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()

    def begin_op(self, op_id: int, name: str) -> None:
        """Open the op's root span: the parent of the first span of every
        thread while the op runs."""
        self.op_id, self._op_span = op_id, None
        self._op_span = self.begin(f"op:{name}")
        self._stack().pop()

    def end_op(self) -> None:
        self.spans[self._op_span]["end"] = time.perf_counter()
        self.op_id = self._op_span = None

    def _ancestors(self, sid: int):
        p = self.spans[sid]["parent"]
        while p is not None:
            yield self.spans[p]
            p = self.spans[p]["parent"]

    def _outermost(self, sid: int, layers) -> bool:
        return not any(
            a["name"].split(".", 1)[0] in layers for a in self._ancestors(sid)
        )

    def _targets(self, args, kwargs) -> list[str]:
        out = []
        for v in list(args) + list(kwargs.values()):
            if isinstance(v, str) and os.path.abspath(v).startswith(self.run_root):
                out.append(os.path.abspath(v))
        return out

    def wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"
        writer = layer in WRITER_LAYERS

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op_id is None:
                return fn(*args, **kwargs)
            sid = self.begin(name)
            # Files are counted once, by the outermost writer call.
            outer = writer and self._outermost(sid, WRITER_LAYERS)
            if outer:
                dirs = [w for d in self._targets(args, kwargs) for w in watch_dirs(d)]
                before = _inodes(dirs)
                self.spans[sid]["start"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)
                if outer:
                    self._account_writes(sid, layer, dirs, before)

        return traced

    def _account_writes(self, sid: int, layer: str, dirs, before) -> None:
        nbytes = nfiles = 0
        for ino, stamp in _inodes(dirs).items():
            if before.get(ino) != stamp:
                nbytes += stamp[0]
                nfiles += 1
        self.spans[sid].update(bytes_written=nbytes, files_written=nfiles)
        with self._lock:
            self.targets.setdefault(layer, set()).update(dirs)

    def install(self) -> None:
        """Patch every public function of the traced modules in place."""
        import importlib

        for layer, modname in LAYERS:
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                setattr(mod, attr, self.wrap(layer, fn))

    # -- summaries over the spans of a set of ops --------------------------
    def totals(self, prefix: str, ops: set[int]) -> dict[str, float]:
        """Calls into ``prefix`` from outside its layer, their seconds and
        the bytes and files they wrote, over the given ops."""
        layer = prefix.split(".", 1)[0]
        out = {"calls": 0, "s": 0.0, "bytes_written": 0, "files_written": 0}
        for sid, sp in enumerate(self.spans):
            if (
                sp["op"] in ops and sp["name"].startswith(prefix)
                and sp["end"] is not None and self._outermost(sid, (layer,))
            ):
                out["calls"] += 1
                out["s"] += sp["end"] - sp["start"]
                out["bytes_written"] += sp.get("bytes_written", 0)
                out["files_written"] += sp.get("files_written", 0)
        return out

    def ops_with_writes(self, ops: set[int]) -> int:
        return len({
            sp["op"] for sp in self.spans
            if sp["op"] in ops and sp["name"].split(".", 1)[0] in WRITER_LAYERS
        })

    def write_amp(self, layer: str, written: int) -> float:
        """Bytes the layer wrote over the run, divided by the bytes its
        target tables hold on disk at the end of the run."""
        on_disk = tree_bytes(*self.targets.get(layer, ()))
        return written / on_disk if on_disk else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkProbe:
    """Job attribution and engine-side metrics for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )

    def next_job_id(self) -> int:
        """The id the next job will get. Job ids are assigned in order for
        the whole application, so the ids an op's jobs got are exactly
        [watermark before, watermark after), whichever thread ran them."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until the status store has seen every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def rest(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.loads(r.read())

    def jobs(self) -> dict[int, dict]:
        return {j["jobId"]: j for j in self.rest("jobs")}

    def stages(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for s in self.rest("stages"):
            # Keep every attempt's metrics: a retried stage did the work twice.
            prev = out.get(s["stageId"])
            if prev is None:
                out[s["stageId"]] = dict(s)
            else:
                for k, v in s.items():
                    if isinstance(v, (int, float)) and not isinstance(v, bool):
                        prev[k] = prev.get(k, 0) + v
        return out

    def sql(self) -> list[dict]:
        return self.rest("sql?details=true&planDescription=false&length=1000000")


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
               "TiB": 1024 ** 4}
_PY_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDTF|ArrowEvalPython")


def metric_number(value: str) -> float:
    """Parse a SQL metric as the REST API prints it: "1,234", "12.3 MiB",
    or a "total (min, med, max ...)" block whose first value is the total."""
    text = value.split("\n")[-1] if value.startswith("total") else value
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE_UNITS.get(m.group(2) or "B", 1)


def python_boundary(executions: list[dict], job_ids: set[int]) -> tuple[float, float]:
    """(rows, bytes) sent to Python by the Python-boundary nodes of the
    given jobs' SQL executions. Bytes come from the node's own "data sent
    to Python workers" metric. Spark has no rows-sent metric, so rows are
    the output rows of the nearest node below that counts them (a Project
    passes its child's rows through and counts none)."""
    rows = sent = 0.0
    for ex in executions:
        ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ids & job_ids:
            continue
        nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
        inputs: dict[int, list[int]] = {}
        for e in ex.get("edges", []):
            inputs.setdefault(e["toId"], []).append(e["fromId"])
        for n in nodes.values():
            if not _PY_NODE.search(n.get("nodeName", "")):
                continue
            sent += sum(metric_number(m["value"]) for m in n.get("metrics", [])
                        if m["name"] == "data sent to Python workers")
            todo = list(inputs.get(n["nodeId"], ()))
            while todo:
                child = nodes.get(todo.pop())
                if child is None:
                    continue
                counted = [m for m in child.get("metrics", [])
                           if m["name"] == "number of output rows"]
                if counted:
                    rows += metric_number(counted[0]["value"])
                else:
                    todo.extend(inputs.get(child["nodeId"], ()))
    return rows, sent


def make_stream_probe():
    """A StreamingQueryListener that keeps every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append({
                "duration": dict(p.durationMs or {}),
                "input_rows": int(p.numInputRows or 0),
                "state_rows": sum(
                    int(s.numRowsTotal or 0) for s in (p.stateOperators or [])
                ),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def summary(self, upto: int) -> dict[str, float]:
            b = self.batches[:upto]
            trig = [x["duration"].get("triggerExecution", 0) for x in b]
            return {
                "stream.batches": len(b),
                "stream.batch_p50_ms": statistics.median(trig) if trig else 0.0,
                "stream.add_batch_ms": float(
                    sum(x["duration"].get("addBatch", 0) for x in b)),
                "stream.wal_commit_ms": float(
                    sum(x["duration"].get("walCommit", 0) for x in b)),
                "stream.input_rows": sum(x["input_rows"] for x in b),
                "stream.state_rows": sum(x["state_rows"] for x in b),
            }

    return StreamProbe()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2 ** 20


class RssSampler(threading.Thread):
    INTERVAL_S = 0.5

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._halt.wait(self.INTERVAL_S)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb
