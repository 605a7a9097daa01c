"""Spans around the engine's public functions, and readers for Spark's
status surfaces and the process tree.

Nothing here edits the engine: ``Tracer.install`` rebinds each wrapped
function in every loaded module of the package that holds it.  Call it
before ``plans.catalog`` is imported, because the plan modules bind the
names they import at import time; modules imported later pick up the
wrappers from their source modules.

Jobs are attributed through job groups: a span on the main thread runs
its body under its own group and counts the group's jobs when it ends.
Spans on other threads (the foreachBatch callback of a stream) leave
the group alone, since the stream's own group (its run id) is how the
stream's jobs are found.
"""

from __future__ import annotations

import functools
import importlib
import os
import statistics
import sys
import threading
import time

PKG = "ultimate_data_engineering_project_spark"

#: (module, function, span name) for every wrapped public function.
WRAPPED = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.readers", "load_table", "readers.load_table"),
    ("tuning", "pin", "tuning.pin"),
    ("operators.dedup", "connected_components", "dedup.connected_components"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    # bpe_encode_docs trains its merges inline, as bpe_merges does
    ("operators.text", "bpe_merges", "text.bpe_merges"),
    ("operators.text", "bpe_encode_docs", "text.bpe_merges"),
    ("operators.clustering", "kmeans_refine", "clustering.kmeans_refine"),
    # pq_candidates_int is the exact-integer twin of pq_train + scan
    ("operators.similarity", "pq_train", "similarity.pq_train"),
    ("operators.similarity", "pq_candidates_int", "similarity.pq_train"),
    ("operators.similarity", "scored_pairs", "similarity.scored_pairs"),
    ("streaming.pipelines", "run_cdc_stream", "cdc.run_cdc_stream"),
    ("streaming.pipelines", "cdc_table_image", "cdc.table_image"),
    ("pipelines", "gold_balance_distribution", "gold.balance_distribution"),
]

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every span a
    plain call, so an untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.trace_id = None

    # -- spans ---------------------------------------------------------
    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if name == "tuning.pin":
                    sp["taken"] = out is not (args[0] if args else kwargs["df"])
                return out

        return wrapper

    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` (no-op when disabled)."""
        if not self.enabled:
            return
        originals = {}
        for mod_name, fn_name, span_name in WRAPPED:
            orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
            originals[id(orig)] = self._wrap(span_name, orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals:
                    setattr(mod, attr, originals[id(val)])

    # -- summaries -----------------------------------------------------
    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Seconds per span name over ``spans``, minus the time their
        child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.rec = None
        self.name = name
        self.attrs = attrs

    def __enter__(self) -> dict:
        t = self.t
        if not t.enabled:
            return {}
        parent = t._stack[-1]["id"] if t._stack else None
        rec = {"name": self.name, "id": t._next_id, "parent": parent,
               "trace": t.trace_id, "jobs": None, **self.attrs}
        t._next_id += 1
        self.sc = t._sc() if threading.current_thread() is threading.main_thread() else None
        if self.sc is not None:
            self.prev_group = self.sc.getLocalProperty(_GROUP)
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setLocalProperty(_GROUP, rec["group"])
        t._stack.append(rec)
        self.rec = rec
        rec["start"] = time.perf_counter()
        return rec

    def __exit__(self, *exc) -> None:
        rec = self.rec
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        t = self.t
        t._stack.pop()
        # a span that stopped the context (session restart) has no group
        sc = self.sc if self.sc is not None and self.sc is t._sc() else None
        if sc is not None:
            sc.setLocalProperty(_GROUP, self.prev_group)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
        rec["failed"] = exc[0] is not None
        t.spans.append(rec)


def inclusive_jobs(spans: list[dict], root: dict) -> int:
    """Jobs launched under ``root`` and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total, todo = 0, [root]
    while todo:
        s = todo.pop()
        total += s["jobs"] or 0
        todo.extend(kids.get(s["id"], []))
    return total


# -- Spark status surfaces ----------------------------------------------


def stage_totals(spark, job_ids) -> dict[str, float]:
    """Sum the status store's metrics over the completed stages of
    ``job_ids`` (stages skipped on a reused shuffle count for nothing)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes"], 0)
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never attempted: the stage was skipped
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_value(text: str) -> float:
    """Parse one formatted SQL metric: ``"1,234"`` or a size metric's
    ``"total (min, med, max ...)\\n12.5 KiB (...)"``."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    parts = line.replace(",", "").split()
    if len(parts) >= 2 and parts[1] in _SIZE:
        return float(parts[0]) * _SIZE[parts[1]]
    return float(parts[0])


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def python_operator_totals(spark, first_exec: int, last_exec: int) -> dict[str, float]:
    """Rows and bytes through Python workers, summed from the SQL
    metrics of every plan node that reports data sent to Python, over
    SQL executions ``first_exec`` .. ``last_exec`` - 1."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = nbytes = 0.0
    for ex in range(first_exec, last_exec):
        try:
            nodes = _seq(store.planGraph(ex).allNodes())
        except Exception:  # execution evicted from the store
            continue
        wanted = {}
        for node in nodes:
            metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
            if "data sent to Python workers" in metrics:
                wanted[metrics["number of output rows"]] = "rows"
                for name in ("data sent to Python workers", "data returned from Python workers"):
                    if name in metrics:
                        wanted[metrics[name]] = "bytes"
        if not wanted:
            continue
        it = store.executionMetrics(ex).iterator()
        while it.hasNext():
            kv = it.next()
            kind = wanted.get(kv._1())
            if kind == "rows":
                rows += _metric_value(kv._2())
            elif kind == "bytes":
                nbytes += _metric_value(kv._2())
    return {"python_rows": rows, "python_bytes": nbytes}


def jvm_ms(spark) -> dict[str, int]:
    """Milliseconds the driver JVM has spent compiling (JIT) and
    collecting garbage since it started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {"jit_ms": int(mf.getCompilationMXBean().getTotalCompilationTime()),
            "gc_ms": sum(int(gc.getCollectionTime()) for gc in mf.getGarbageCollectorMXBeans())}


def sql_execution_count(spark) -> int:
    """Next SQL execution id (ids are dense from 0 in one session)."""
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


# -- process tree ----------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def process_tree(root: int | None = None) -> list[int]:
    todo, out = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(f) for f in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant, including
    what each has reaped from its own finished children."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def reset_peak_rss() -> None:
    """Reset every live process's peak resident set to its current one,
    so the next reading covers only what runs from here on."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss() -> list[tuple[str, float]]:
    """(command, peak resident set VmHWM in MiB) of every live process in
    the tree."""
    out = []
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of every live process's peak resident set, in MiB."""
    return sum(mb for _, mb in tree_peak_rss())


def median(values):
    return statistics.median(values) if values else 0.0
