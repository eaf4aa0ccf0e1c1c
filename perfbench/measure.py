"""Pure helpers of the benchmark: statistics, hashing, framing, host noise.

Nothing here starts a process or touches Spark, so the self-tests in
``test_perfbench.py`` cover it directly.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading

RS = b"\x1e"


# ------------------------------------------------------------ statistics

def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond``
    samples above it: (value, percentile, sample count).

    With n sorted samples the k-th smallest (1-based) has n - k samples
    beyond it, so the answer is the (n - beyond)-th smallest, at
    percentile 100 * (n - beyond) / n. With n <= beyond no percentile
    qualifies and the smallest sample, percentile 0, is reported."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = max(1, n - beyond)
    pct = 100.0 * (n - beyond) / n if n > beyond else 0.0
    return float(s[k - 1]), pct, n


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval its children
    cover. Overlapping children count once. A span with ``busy`` (an
    iterator, active only inside next()) lasts ``busy`` seconds, and as
    a child it covers that much of its parent."""
    s, e = span["start"], span["end"]
    total = span.get("busy", e - s)
    covered = 0.0
    intervals = []
    for c in children:
        if "busy" in c:
            covered += c["busy"]
        else:
            intervals.append((max(s, c["start"]), min(e, c["end"])))
    intervals.sort()
    cur_s = cur_e = None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, total - covered)


# ---------------------------------------------------------------- hashing

def row_key(rec: dict, fields) -> str:
    return "|".join("" if rec.get(f) is None else str(rec.get(f))
                    for f in fields)


def set_hash(keys) -> str:
    """Order-independent hash of a multiset of strings: the sum of
    their 64-bit md5 prefixes modulo 2**64, as 16 hex digits."""
    acc = 0
    for k in keys:
        acc = (acc + int.from_bytes(
            hashlib.md5(k.encode()).digest()[:8], "big")) % (1 << 64)
    return f"{acc:016x}"


# -------------------------------------------------------------- json-seq

class JsonSeqParser:
    """Incremental RFC 7464 parser: feed() bytes as they arrive from the
    socket, get back the records completed so far. A record is RS, a
    JSON text, LF; a frame may be split across any number of chunks."""

    def __init__(self):
        self._buf = b""

    def feed(self, chunk: bytes) -> list:
        self._buf += chunk
        out = []
        while True:
            start = self._buf.find(RS)
            if start < 0:
                if self._buf.strip():
                    raise ValueError("json-seq bytes outside a frame")
                self._buf = b""
                return out
            if self._buf[:start].strip():
                raise ValueError("json-seq bytes outside a frame")
            # a compact JSON text holds no raw LF, so the first LF
            # after RS closes the frame
            end = self._buf.find(b"\n", start)
            if end < 0:
                self._buf = self._buf[start:]
                return out
            out.append(json.loads(self._buf[start + 1:end]))
            self._buf = self._buf[end + 1:]

    def close(self) -> None:
        """Raise if the stream ended inside a frame (truncation)."""
        if self._buf:
            raise ValueError("json-seq stream truncated mid-frame")


# ------------------------------------------------------------ host noise

def steal_share(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> float:
    """Steal over busy ticks between two (steal, total, idle) readings of
    /proc/stat: the share of the CPU time this guest wanted that the
    hypervisor gave to another."""
    busy = (t1[1] - t0[1]) - (t1[2] - t0[2])
    return (t1[0] - t0[0]) / busy if busy > 0 else 0.0


# ----------------------------------------------------------- process RSS

def tree_pids(root: int) -> list[int]:
    """``root`` and every descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root``'s process tree,
    including descendants that have exited and been reaped. Time the
    hypervisor steals is not charged to a process."""
    ticks = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15]: utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_kb(root: int) -> int:
    """Current resident set (VmRSS) summed over ``root``'s process tree."""
    kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb


class RssSampler:
    """Peak of the process tree's summed RSS, sampled every ``interval``
    seconds by a daemon thread. Python workers come and go, so a sum of
    per-process peaks would count whichever happen to be alive at the
    end; sampling the sum measures the footprint the host saw."""

    def __init__(self, root: int, interval: float = 0.2):
        self.peak_kb = 0
        self._root, self._interval = root, interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self._root))
            self._stop.wait(self._interval)

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, tree_rss_kb(self._root))
        return self.peak_kb / 1024.0


def dir_usage(path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return size, files
