"""Outside-in probes: process-tree CPU and peak RSS from ``/proc``, and
per-job Spark figures from the status tracker and status store.

Nothing here runs inside the program; every figure is read from the
operating system or from Spark's own bookkeeping after the fact.
"""

from __future__ import annotations

import os
import signal
import time
from contextlib import contextmanager

_TICK = os.sysconf('SC_CLK_TCK')


def _proc_table():
    """pid -> (comm, ppid, cpu_ticks) for every readable process."""
    table = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open('/proc/%s/stat' % name, 'rb') as fh:
                raw = fh.read().decode('utf-8', 'replace')
        except OSError:
            continue
        lpar, rpar = raw.index('('), raw.rindex(')')
        rest = raw[rpar + 2:].split()
        # fields 14-17: utime stime cutime cstime (reaped children
        # count in their reaper's cutime/cstime)
        ticks = sum(int(x) for x in rest[11:15])
        table[int(name)] = (raw[lpar + 1:rpar], int(rest[1]), ticks)
    return table


def _descendants(table, root):
    kids = {}
    for pid, (_, ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _hwm_mb(pid):
    try:
        with open('/proc/%d/status' % pid, 'r') as fh:
            for line in fh:
                if line.startswith('VmHWM:'):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


class ProcessTree:
    """CPU seconds of this process and all its descendants (the JVM
    and its Python workers), and the peak RSS of the JVM and of the
    Python workers under it.  Peaks are sampled at ``sample()`` calls
    and kept per pid, so a worker that exits still counts."""

    def __init__(self):
        self.root = os.getpid()
        self.worker_hwm = {}
        self.jvm_hwm = 0.0

    def cpu_s(self) -> float:
        table = _proc_table()
        return sum(table[p][2] for p in _descendants(table, self.root)
                   if p in table) / _TICK

    def sample(self) -> None:
        table = _proc_table()
        for pid in _descendants(table, self.root):
            if pid not in table or table[pid][0] != 'java':
                continue
            self.jvm_hwm = max(self.jvm_hwm, _hwm_mb(pid) or 0.0)
            for sub in _descendants(table, pid)[1:]:
                if sub in table and table[sub][0].startswith('python'):
                    mb = _hwm_mb(sub)
                    if mb is not None:
                        self.worker_hwm[sub] = max(
                            self.worker_hwm.get(sub, 0.0), mb)

    def py_workers_mb(self) -> float:
        return sum(self.worker_hwm.values())

    def wait_children(self, timeout: float) -> None:
        """Wait until this process has no descendant left; kill what
        remains after ``timeout`` seconds."""
        deadline = time.monotonic() + timeout
        while True:
            table = _proc_table()
            left = [p for p in _descendants(table, self.root)[1:]
                    if p in table]
            if not left:
                return
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + timeout
            time.sleep(0.1)


class SparkJobs:
    """Jobs, stages, executor CPU, shuffle bytes and task skew of the
    Spark jobs run under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields its id."""
        self._n += 1
        gid = 'kgbench-%d-%s' % (self._n, label)
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty('spark.jobGroup.id', None)

    def stats(self, gid: str) -> dict:
        jobs = list(self.tracker.getJobIdsForGroup(gid))
        stage_ids = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        gw = self.sc._gateway
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        empty = gw.jvm.java.util.ArrayList()
        cpu_ns = shuffle_w = 0
        med_sum = max_sum = 0.0
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, empty, False,
                                            gw.new_array(gw.jvm.double,
                                                         0))
            for k in range(attempts.size()):
                st = attempts.apply(k)
                cpu_ns += st.executorCpuTime()
                shuffle_w += st.shuffleWriteBytes()
                if st.numCompleteTasks() < 2:
                    continue
                summ = self.store.taskSummary(sid, st.attemptId(), quant)
                if summ.isDefined():
                    q = summ.get().executorRunTime()
                    med_sum += q.apply(0)
                    max_sum += q.apply(1)
        return {'jobs': len(jobs),
                'executor_cpu_s': cpu_ns / 1e9,
                'shuffle_mb': shuffle_w / 2 ** 20,
                # summed straggler time over summed median task time
                'task_skew': max_sum / med_sum if med_sum else 1.0}
