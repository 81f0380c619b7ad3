"""Process helpers read from /proc: summed RSS of a process tree, and
the processes a run started (the driver's JVM and the Python workers it
forks), found by a variable every one of them inherits."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")

# Set in the child's environment to its run directory.
MARK = "PERFBENCH_RUN_DIR"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def marked(run_dir: str | None = None) -> list[int]:
    """Pids of processes started by a benchmark run: by the run in
    ``run_dir`` when given, else by any run."""
    want = f"{MARK}={run_dir}".encode() if run_dir else None
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if any(v == want if want else v.startswith(MARK.encode() + b"=") for v in env):
            out.append(int(name))
    return out


class PeakRss:
    """Samples the summed RSS of a process tree on a thread until stopped;
    ``take`` returns the peak since the previous ``take``."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = rss_bytes(tree(self.root))
            with self._lock:
                self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval):
                return

    def take(self) -> int:
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
