"""Tracing for the benchmark: spans, job groups and Spark's status stores.

Everything here observes the program from outside ``valico_spark``:

* ``Ledger`` keeps spans ``(name, start, end, parent)`` in memory and
  writes them as JSON when the run ends;
* ``Ledger.call`` runs one public call under its own Spark job group,
  then reads the stage metrics (``AppStatusStore``) and the SQL metrics
  (the SQL status store) of the executions that call started;
* ``Ledger.hooks`` times the compiler entry points and forces
  ``executedPlan`` before every action while it is entered, so compile
  and planning show as their own spans; it also counts the Catalyst
  expression nodes of each action's analyzed plan;
* ``PeakRss`` samples VmHWM of this process and all its descendants
  (the JVM, the Python worker daemon and its workers).

With tracing off, none of this runs except ``PeakRss``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# SQL-metric strings are formatted for the UI: "1,234", "12.5 KiB",
# "3.1 s", or a "total (min, med, max ...)\n<total> (...)" block
_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_NODES = re.compile(r"Python|Pandas|Arrow")
_EXPR_CLASS = '"class":"org.apache.spark.sql.catalyst.expressions.'


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes, seconds or
    plain units."""
    line = text.split("\n")[-1] if "\n" in text else text
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


def plan_node_names(tree: str) -> list[str]:
    """Operator names of a physical-plan tree string, one per line."""
    names = []
    for line in tree.splitlines():
        body = re.sub(r"^[\s:|+\-]*(\*\(\d+\)\s*)?", "", line)
        m = re.match(r"[A-Za-z]\w*", body)
        if m and not body.startswith("=="):
            names.append(m.group(0))
    return names


class PeakRss:
    """Background sampler of resident memory over this process tree.

    Every sample sums VmHWM over the live processes of the tree: this
    Python process, the JVM, and the Python worker daemon and its
    workers. The result is the largest such sum, so processes of a
    stopped session no longer count once they have exited; a worker
    that starts and ends between two samples is missed."""

    def __init__(self, interval: float = 0.25):
        # descendants whose subtrees are not counted
        self.skip: set[int] = set()
        self._peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids[ppid].append(int(entry))
        return kids

    def sample(self) -> None:
        kids = self._children()
        todo = [os.getpid()]
        total = 0
        while todo:
            pid = todo.pop()
            if pid in self.skip:
                continue
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def mb(self) -> float:
        return self._peak_kb / 1024.0


class Ledger:
    """Spans plus per-call layer counters for one traced window."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.calls = 0
        self.executions: list[dict] = []
        self._stack: list[int] = []
        self._gid = 0
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen = 0
        self._saved: list[tuple] = []

    # -- spans -------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.totals[key] += value

    @contextlib.contextmanager
    def call(self, name: str):
        """One public call: its own job group and span; afterwards the
        stage and SQL metrics of every execution it started."""
        self._gid += 1
        group = f"bench-{self._gid}-{name}"
        sc = self.spark.sparkContext
        # untraced calls between traced ones start executions too
        self._bus.waitUntilEmpty()
        self._seen = self._sql.executionsCount()
        sc.setJobGroup(group, name)
        try:
            with self.span(name, job_group=group) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.calls += 1
            with self.span("read_status_stores", parent_call=rec["id"]):
                self._read_executions(group, rec["id"])

    # -- hooks -------------------------------------------------------

    @contextlib.contextmanager
    def hooks(self):
        """The hooks of ``install_hooks``, removed on exit."""
        self.install_hooks()
        try:
            yield
        finally:
            self.remove_hooks()

    def install_hooks(self) -> None:
        """Time the compiler entry points and force planning before
        each action, recording both as spans."""
        from valico_spark.compiler import columns, variantcolumns

        # the session's own classes: the classic DataFrame overrides the
        # actions of pyspark.sql.DataFrame
        probe = self.spark.range(1)
        DataFrame, DataFrameWriter = type(probe), type(probe.write)

        ledger = self

        def timed_compile(mod, attr):
            orig = getattr(mod, attr)

            def wrapper(*args, **kwargs):
                # a compile that raises UnsupportedRule (the walker
                # fallback) still spent its time
                t = time.perf_counter()
                try:
                    with ledger.span(f"compiler.{attr}"):
                        return orig(*args, **kwargs)
                finally:
                    ledger.add("compiler.build_s", time.perf_counter() - t)

            # also rebind modules that imported the name directly
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("valico_spark")
                        and getattr(m, attr, None) is orig):
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, wrapper)

        timed_compile(columns, "compile_ruleset")
        timed_compile(variantcolumns, "compile_json_ruleset")

        def planned(cls, attr, jdf_of):
            orig = getattr(cls, attr)

            def wrapper(self_, *args, **kwargs):
                ledger.force_plan(jdf_of(self_))
                with ledger.span(f"action.{attr}"):
                    return orig(self_, *args, **kwargs)

            self._saved.append((cls, attr, orig))
            setattr(cls, attr, wrapper)

        planned(DataFrame, "collect", lambda d: d._jdf)
        planned(DataFrame, "count", lambda d: d._jdf)
        planned(DataFrameWriter, "parquet", lambda w: w._df._jdf)

    def remove_hooks(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def force_plan(self, jdf) -> None:
        qe = jdf.queryExecution()
        with self.span("plan"):
            t = time.perf_counter()
            tree = qe.executedPlan().toString()
            self.add("plan.s", time.perf_counter() - t)
        self.add("compiler.expr_nodes",
                 qe.analyzed().toJSON().count(_EXPR_CLASS))
        names = plan_node_names(tree)
        self.add("plan.exchanges",
                 sum(n.endswith("Exchange") for n in names))
        self.add("plan.python_nodes",
                 sum(bool(_PY_NODES.search(n)) for n in names))

    # -- status stores -----------------------------------------------

    def _read_executions(self, group: str, span_id: int) -> None:
        self._bus.waitUntilEmpty()
        count = self._sql.executionsCount()
        if count <= self._seen:
            return
        execs = self._sql.executionsList(self._seen, count - self._seen)
        self._seen = count
        for i in range(execs.size()):
            self._read_execution(execs.apply(i), group, span_id)

    def _read_execution(self, e, group: str, span_id: int) -> None:
        add = self.add
        jobs = e.jobs()
        job_ids = [int(j) for j in
                   self.spark.sparkContext._jvm.scala.jdk.javaapi
                   .CollectionConverters.asJava(jobs.keys()).toArray()]
        ours = 0
        for jid in job_ids:
            job = self._store.job(jid)
            if job.jobGroup().isDefined() and job.jobGroup().get() == group:
                ours += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                try:
                    s = self._store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:  # skipped stage: never ran, no data
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                add("exec.stages", 1)
                add("exec.tasks", s.numCompleteTasks())
                add("exec.failed_tasks", s.numFailedTasks())
                add("exec.run_s", s.executorRunTime() / 1e3)
                add("exec.cpu_s", s.executorCpuTime() / 1e9)
                add("exec.gc_s", s.jvmGcTime() / 1e3)
                add("exec.input_bytes", s.inputBytes())
                add("exec.output_bytes", s.outputBytes())
                add("exec.shuffle_read_bytes", s.shuffleReadBytes())
                add("exec.shuffle_write_bytes", s.shuffleWriteBytes())
                add("exec.spill_bytes",
                    s.memoryBytesSpilled() + s.diskBytesSpilled())
        add("exec.jobs", len(job_ids))
        add("exec.sql_executions", 1)
        if ours != len(job_ids):
            add("exec.jobs_outside_group", len(job_ids) - ours)

        values = self._sql.executionMetrics(e.executionId())
        graph = self._sql.planGraph(e.executionId())
        nodes = graph.allNodes()
        py_rows = sent = received = 0.0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PY_NODES.search(node.name()):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isEmpty():
                    continue
                name = m.name()
                if name == "number of output rows":
                    py_rows += parse_metric(v.get())
                elif name == "data sent to Python workers":
                    sent += parse_metric(v.get())
                elif name == "data returned from Python workers":
                    received += parse_metric(v.get())
        add("python.rows", py_rows)
        add("python.bytes_sent", sent)
        add("python.bytes_received", received)

        done = e.completionTime()
        end = done.get().getTime() if done.isDefined() else None
        self.executions.append({
            "call_span": span_id, "execution_id": e.executionId(),
            "jobs": len(job_ids),
            "seconds": (end - e.submissionTime()) / 1e3 if end else None})

    def per_call(self, n: int) -> dict[str, float]:
        """Totals of the traced window divided by ``n`` workload calls."""
        return {k: v / n for k, v in sorted(self.totals.items())}

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0,
                  "end": (s["end"] or s["start"]) - t0} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "executions": self.executions,
                       "totals": self.totals, "calls": self.calls,
                       **extra}, f, indent=1)
