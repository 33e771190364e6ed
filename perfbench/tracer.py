"""Timing and tracing of calls into the program's layers.

Every operation the benchmark issues goes through :meth:`Recorder.op`:
``call()`` is the layer's public function (its span child ``plan`` lasts
until the function returns, typically a lazy DataFrame) and ``action``
is what forces it (child ``exec``).  The op's latency is ``plan + exec``.

With tracing on, each child runs under its own Spark job group, so the
status tracker attributes jobs and tasks to it, and the keyed table's
directory is listed before and after the op.  That bookkeeping happens
between the timed regions; its own wall time is kept per op in
``overhead_s``.  Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class OpRecord:
    kind: str
    layer: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = False
    # traced runs only
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    overhead_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.plan_s + self.exec_s


def table_census(root: str, current_gen: str) -> dict:
    """Files under a keyed table's root, hardlinks counted once by inode.

    ``live`` maps each data file of the current generation to its inode;
    ``sidecars`` counts the ``_bloom/<file>.bf`` sidecars of those files."""
    inodes: dict[int, int] = {}
    gens = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            gens = sum(1 for d in dirnames if d.startswith("gen-"))
        for name in filenames:
            st = os.lstat(os.path.join(dirpath, name))
            inodes[st.st_ino] = st.st_size
    live: dict[str, int] = {}
    for entry in os.scandir(current_gen):
        if entry.is_file() and entry.name.endswith(".parquet"):
            live[entry.name] = entry.inode()
    bloom_dir = os.path.join(current_gen, "_bloom")
    have = set(os.listdir(bloom_dir)) if os.path.isdir(bloom_dir) else set()
    return {
        "inodes": inodes,
        "bytes": sum(inodes.values()),
        "live": live,
        "sidecars": sum(1 for f in live if f + ".bf" in have),
        "generations": gens,
    }


class Recorder:
    """Runs ops, times them, and (traced) records spans with Spark jobs."""

    def __init__(self, spark, traced: bool, t0: float):
        """``t0`` is the ``perf_counter`` origin of span times."""
        self.sc = spark.sparkContext
        self.traced = traced
        self.records: list[OpRecord] = []
        self.spans: list[dict] = []
        self.attempted = self.failed = self.failed_tasks = 0
        self.errors: list[str] = []
        self._t0 = t0
        self._next_id = 0
        self._phase: int | None = None
        self._bus = None
        if traced:
            # the status store is fed by the async listener bus; draining
            # it makes job/task counts final before they are read
            self._bus = self.sc._jsc.sc().listenerBus()

    # -- spans ---------------------------------------------------------------
    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id - 1

    def _span(self, sid: int, name: str, parent: int | None, start: float, end: float,
              **attrs) -> None:
        self.spans.append({
            "id": sid, "parent": parent, "name": name,
            "start_s": start - self._t0, "end_s": end - self._t0, **attrs,
        })

    def _jobs(self, group: str) -> tuple[list[int], int, int]:
        st = self.sc.statusTracker()
        ids = sorted(st.getJobIdsForGroup(group))
        tasks = failed = 0
        for jid in ids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return ids, tasks, failed

    def past_phase(self, name: str, start: float, end: float) -> None:
        """Record a set-up phase that ran before the recorder existed."""
        if self.traced:
            self._span(self._new_id(), name, None, start, end, layer="setup")

    def phase(self, name: str, fn: Callable[[], Any]) -> tuple[Any, float]:
        """Time a set-up phase; the ops it runs become its child spans."""
        sid = self._new_id()
        group = f"setup:{name}"
        if self.traced:
            self.sc.setJobGroup(group, name)
        self._phase = sid  # ops run by ``fn`` are its child spans
        t0 = time.perf_counter()
        try:
            value = fn()
        finally:
            t1 = time.perf_counter()
            self._phase = None
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._bus.waitUntilEmpty()
            ids, tasks, failed = self._jobs(group)
            self.failed_tasks += failed
            self._span(sid, name, None, t0, t1, layer="setup", jobs=ids, tasks=tasks,
                       failed_tasks=failed)
        return value, t1 - t0

    # -- ops -------------------------------------------------------------------
    def op(
        self,
        kind: str,
        layer: str,
        call: Callable[[], Any],
        action: Callable[[Any], Any] | None = None,
        check: Callable[[Any], bool] | None = None,
        census: Callable[[], dict] | None = None,
        probe: Callable[[Any], dict] | None = None,
        record: bool = True,
    ) -> OpRecord:
        """Run one op.  ``check`` sees the action's value and returns
        whether it is correct; ``census`` (traced) lists the table
        directory before and after; ``probe`` (traced) inspects the
        planned value between plan and exec."""
        rec = OpRecord(kind, layer)
        sid = self._new_id()
        groups = (f"op{sid}.plan", f"op{sid}.exec")
        before = None
        if self.traced:
            b0 = time.perf_counter()
            before = census() if census else None
            self.sc.setJobGroup(groups[0], f"{layer}.{kind} plan")
            rec.overhead_s += time.perf_counter() - b0
        t0 = t1 = t2 = t3 = time.perf_counter()
        try:
            value = call()
            t1 = time.perf_counter()
            if self.traced:
                b0 = time.perf_counter()
                if probe is not None:
                    rec.extra.update(probe(value))
                self.sc.setJobGroup(groups[1], f"{layer}.{kind} exec")
                rec.overhead_s += time.perf_counter() - b0
            t2 = time.perf_counter()
            if action is not None:
                value = action(value)
            t3 = time.perf_counter()
            rec.ok = check(value) if check is not None else True
            if not rec.ok:
                self.errors.append(f"{kind}: wrong result")
        except Exception:
            t3 = time.perf_counter()
            if t1 == t0:
                t1 = t2 = t3
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            print(f"# op {kind} failed:\n{self.errors[-1]}", file=sys.stderr)
        rec.plan_s, rec.exec_s = t1 - t0, t3 - t2
        if self.traced:
            b0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._bus.waitUntilEmpty()
            pj, pt, pf = self._jobs(groups[0])
            ej, et, ef = self._jobs(groups[1])
            rec.jobs, rec.tasks, rec.failed_tasks = len(pj) + len(ej), pt + et, pf + ef
            self.failed_tasks += rec.failed_tasks
            if census is not None:
                after = census()
                rec.extra.update(_census_delta(before, after))
            self._span(sid, kind, self._phase, t0, t3, layer=layer, ok=rec.ok, **rec.extra)
            self._span(self._new_id(), "plan", sid, t0, t1, jobs=pj, tasks=pt, failed_tasks=pf)
            self._span(self._new_id(), "exec", sid, t2, t3, jobs=ej, tasks=et, failed_tasks=ef)
            rec.overhead_s += time.perf_counter() - b0
        self.attempted += 1
        self.failed += not rec.ok
        if record:
            self.records.append(rec)
        return rec


def _census_delta(before: dict, after: dict) -> dict:
    """Files and bytes an op wrote, and live data files it carried over
    (same inode before and after, i.e. hardlinked or left in place)."""
    new = set(after["inodes"]) - set(before["inodes"])
    return {
        "files_written": sum(1 for ino in after["live"].values() if ino in new),
        "files_carried": sum(1 for ino in after["live"].values() if ino not in new),
        "bytes_written": sum(after["inodes"][ino] for ino in new),
        "live_files": len(after["live"]),
        "generations": after["generations"],
        "sidecars": after["sidecars"],
    }
