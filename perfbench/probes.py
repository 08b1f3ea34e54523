"""Measurements taken from outside the program.

* :class:`SparkWork` — jobs, stages, tasks and bytes between two marks,
  read from Spark's status store over the range of job ids.
* :class:`Py4jCounter` — commands sent through the py4j gateway client.
* :class:`RssSampler` — peak resident memory of this process tree
  (Python driver, JVM, Python workers), as proportional set size: pages
  that forked Python workers share are counted once, not once per worker.
* :func:`calibrate` — a fixed single-thread work loop, to tell host drift
  from program changes.
"""

from __future__ import annotations

import os
import threading
import time

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class SparkWork:
    """Spark work done since :meth:`mark`.

    Jobs are the ids the DAG scheduler handed out in between, so jobs that
    carry no job group (stream micro-batches) count too, and the count does
    not depend on how many jobs the status store retains."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next = self.next_job_id()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def mark(self) -> None:
        self._next = self.next_job_id()

    def read(self) -> dict[str, float]:
        """Totals since the last mark, then mark again."""
        first, end = self._next, self.next_job_id()
        self._sc.listenerBus().waitUntilEmpty()
        self._next = end
        stage_ids: set[int] = set()
        for jid in range(first, end):
            ids = self._store.job(jid).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.length()))
        out = {f: 0 for f in STAGE_FIELDS}
        out["jobs"] = end - first
        out["stages"] = 0
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += int(getattr(st, f)())
        return out


class Py4jCounter:
    """Counts commands sent to the JVM while :attr:`active`.

    Memory-release commands (``m\\n...``) are left out: Python's garbage
    collector sends them at times no program change controls."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self.count = 0
        self.active = False

        def send(command, *a, **kw):
            if self.active and not command.startswith("m\n"):
                self.count += 1
            return self._send(command, *a, **kw)

        self._client.send_command = send

    def close(self) -> None:
        self._client.send_command = self._send


def _tree_pss(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants every ``interval`` seconds; :attr:`peak` is the largest
    sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def calibrate(repeats: int = 5) -> float:
    """Median milliseconds of a fixed pure-Python loop."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1e3)
    times.sort()
    return times[len(times) // 2]
