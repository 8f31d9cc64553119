"""Process measurements for the benchmark: host CPU steal and the
resident set of the process tree."""

from __future__ import annotations

import os
import threading


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot. Steal is
    time the hypervisor ran something else while this VM's vCPU was
    ready to run; on a shared host it stretches every wall time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n in each, so sums over forked Python
    workers count their shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, depth) of `root` (depth 0) and every process under it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((c, depth + 1) for c in children.get(pid, ()))
    return out


class RssSampler:
    """Peak of the summed proportional resident sets of this process and
    every process under it (the Spark JVM, its Python daemon and workers),
    sampled every `interval` seconds from `start()` to `stop()`.
    `peak` holds the largest sum seen, in MB, split into this process
    (`driver`), its children (`jvm`) and the processes below them
    (`workers`)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"total": 0.0}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> dict:
        kb = {"driver": 0, "jvm": 0, "workers": 0}
        for pid, depth in _tree(os.getpid()):
            part = ("driver", "jvm", "workers")[min(depth, 2)]
            kb[part] += _pss_kb(pid)
        out = {k: v / 1024 for k, v in kb.items()}
        out["total"] = sum(out.values())
        return out

    def _loop(self) -> None:
        while True:
            now = self.sample()
            self.samples += 1
            if now["total"] > self.peak["total"]:
                self.peak = now
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
