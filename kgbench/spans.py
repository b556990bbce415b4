"""Layer spans for the traced benchmark run, joined with the Spark event log.

Spans are recorded here, in the benchmark, by wrapping the public function
each layer exposes; the package itself is not edited. Per-job counters come
from the event log that ``SPARK_GRAFT_EVENTLOG`` switches on, read with the
reader in ``tools/evlog_stages.py``.

Attribution rule. Stage functions return lazy plans that Spark runs at the
next action, which is usually inside the *next* call. So time and jobs are
charged on a timeline of "current layer":

- entering a span makes its layer current;
- leaving a span makes the enclosing open span current again (spans nest:
  ``components`` runs inside ``canonicalize``);
- leaving the outermost span changes nothing: the layer entered last stays
  current until another span is entered, because its returned plan is what
  the following action forces.

Every second of a traced section therefore belongs to exactly one layer
(its self time), and each Spark job goes to the layer current at its
submission time. Work the tracer and the benchmark do inside the traced
span (counting rows a layer returned, collecting the graph the queries
are checked against) runs in paused windows whose time and jobs are left
out.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("ingest", "mentions", "canonicalize", "components", "triples",
          "edge_norm", "coref", "io", "incremental", "graph_query")
LAYER_METRICS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("cpu_s", "s"), ("idle_core_s", "s"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                 ("rows_out", "count"))


def _rows(result) -> int:
    """Rows of a DataFrame, or summed over a tuple of DataFrames."""
    if isinstance(result, tuple):
        return sum(_rows(r) for r in result)
    return result.count()


class Tracer:
    """Current-layer timeline plus per-layer row counts."""

    def __init__(self):
        self._stack: list[str] = []
        self._current: str | None = None
        self.switches: list[tuple[float, str | None]] = []
        self.pauses: list[tuple[float, float]] = []
        self.sections: list[list[float]] = []
        self.rows: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    # ---- timeline -------------------------------------------------------
    def _switch(self, layer: str | None) -> None:
        if layer != self._current:
            self.switches.append((time.time(), layer))
            self._current = layer

    def begin(self, layer: str) -> None:
        """Open a timed section with `layer` current."""
        self._switch(layer)
        self.sections.append([self.switches[-1][0], None])

    def end(self) -> None:
        self._switch(None)
        self._stack.clear()
        self.sections[-1][1] = self.switches[-1][0]

    @contextmanager
    def span(self, layer: str):
        self._stack.append(layer)
        self._switch(layer)
        try:
            yield
        finally:
            self._stack.pop()
            if self._stack:
                self._switch(self._stack[-1])

    @contextmanager
    def paused(self):
        t0 = time.time()
        try:
            yield
        finally:
            self.pauses.append((t0, time.time()))

    def intervals(self) -> list[tuple[float, float, str]]:
        """(start, end, layer) pieces of the timeline, pauses cut out."""
        out = []
        for (t0, layer), (t1, _) in zip(self.switches, self.switches[1:]):
            if layer is None:
                continue
            cuts = sorted((max(a, t0), min(b, t1)) for a, b in self.pauses
                          if a < t1 and b > t0)
            cur = t0
            for a, b in cuts:
                if a > cur:
                    out.append((cur, a, layer))
                cur = max(cur, b)
            if t1 > cur:
                out.append((cur, t1, layer))
        return out

    def layer_at(self, t: float, pieces) -> str | None:
        for a, b, layer in pieces:
            if a <= t < b:
                return layer
        return None

    # ---- wrapping -------------------------------------------------------
    def wrap(self, module, attr: str, layer: str, rows: bool) -> None:
        """Replace `module.attr` with a span-recording wrapper. With `rows`,
        the rows the call returned are counted in a paused window."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                result = fn(*args, **kwargs)
            if rows:
                with self.paused():
                    self.rows[layer] += _rows(result)
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


# ---------------------------------------------------------------------------
# Event log -> per-layer counters
# ---------------------------------------------------------------------------
def read_events(evlog_dir: str, app_id: str):
    """Events of one finished application, from its (rolling, possibly
    zstd-compressed) event-log files, in order."""
    from tools.evlog_stages import open_log

    app_dirs = glob.glob(os.path.join(evlog_dir, f"*{app_id}*"))
    if not app_dirs:
        raise FileNotFoundError(f"no event log for {app_id} in {evlog_dir}")
    path = app_dirs[0]
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        # rolling files are events_<index>_<app>[.zstd]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    for f in files:
        with open_log(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def layer_counters(events, tracer: Tracer, cores: int) -> dict:
    """Per-layer wall/jobs/tasks/cpu/idle/shuffle/spill, plus the job
    accounting of the traced span and bytes written (io.output_mb).

    `jobs_timed` counts every job submitted between the first begin() and
    the last end(), gaps between sections included, independently of the
    timeline; each is either attributed to a layer or in a paused window,
    so `jobs_timed` = Σ layer jobs + `jobs_paused` unless some job ran
    outside both. `paused_s` is the paused time inside the sections."""
    pieces = tracer.intervals()
    first, last = tracer.sections[0][0], tracer.sections[-1][1]
    job_layer: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    per = {lay: defaultdict(float) for lay in LAYERS}
    totals = {"jobs_timed": 0, "jobs_paused": 0, "output_mb": 0.0}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if not first <= t < last:
                continue
            totals["jobs_timed"] += 1
            if any(a <= t < b for a, b in tracer.pauses):
                totals["jobs_paused"] += 1
                continue
            layer = tracer.layer_at(t, pieces)
            if layer is None:
                continue
            jid = e["Job ID"]
            job_layer[jid] = layer
            per[layer]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in job_layer:
                continue
            a = per[job_layer[jid]]
            m = e.get("Task Metrics") or {}
            a["tasks"] += 1
            a["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            out = m.get("Output Metrics") or {}
            totals["output_mb"] += out.get("Bytes Written", 0) / 1e6
    for a, b, layer in pieces:
        per[layer]["wall_s"] += b - a
    for layer, a in per.items():
        a["idle_core_s"] = cores * a["wall_s"] - a.pop("run_s", 0.0)
        a["rows_out"] = float(tracer.rows.get(layer, 0))
    totals["paused_s"] = sum(max(0.0, min(b, s1) - max(a, s0))
                             for a, b in tracer.pauses
                             for s0, s1 in tracer.sections)
    return {"layers": per, **totals}
