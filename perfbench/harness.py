"""Measurement helpers shared by the workloads; no Spark import here.

- :func:`percentile` with a minimum-tail rule, so a p90 is never read off
  fewer than ten samples beyond it;
- :class:`ProcTree`, CPU and RSS of a process tree read from ``/proc``;
- :func:`cpu_ticks` / :func:`steal_share`, CPU time the hypervisor gave
  to other guests, which spoils a measured phase's wall-clock figures;
- :func:`batch_files`, the micro-batch -> files map from a streaming
  query's checkpoint source log;
- :func:`redis_oracle` / :func:`redis_state_diff`, the expected Redis state
  of the counter sink, computed by DuckDB over the generated events;
- :class:`Tracer`, in-memory spans with per-layer self time.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Void(Exception):
    """The run could not measure its phase: the engine did not commit its
    warm-up batch or the window's files in time."""


class TooFewSamples(ValueError):
    """The sample cannot support the requested percentile."""


def percentile(values, q: float, min_beyond: int = 0) -> float:
    """Nearest-rank ``q`` percentile (0 < q <= 1) of ``values``.

    ``min_beyond`` demands that many samples strictly above the percentile's
    rank (``n - rank >= min_beyond``), e.g. ten samples beyond a p90 needs
    n >= 100. Raises :class:`TooFewSamples` otherwise.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples leaves {n - rank} beyond it; "
            f"{min_beyond} required"
        )
    return xs[rank - 1]


# -- process tree --------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of ``pid``, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state; ppid, utime, stime, cutime, cstime per proc(5)
    ppid = int(fields[1])
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ppid, ticks / _CLK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcTree:
    """CPU and RSS of ``root`` and its descendants, minus ``exclude`` subtrees.

    CPU counts each live process's own and reaped children's time, so
    short-lived Python workers are counted through the daemon that reaps
    them. :meth:`start_sampling` polls RSS from a helper process to find
    the peak.
    """

    def __init__(self, root: int, exclude=()) -> None:
        self.root = root
        self.exclude = set(exclude)
        self._sampler = None

    def pids(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children[st[0]].append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            if p in self.exclude:
                continue
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        total = 0.0
        for p in self.pids():
            st = _stat(p)
            if st is not None:
                total += st[1]
        return total

    def rss_bytes(self) -> int:
        return sum(_rss_bytes(p) for p in self.pids())

    def start_sampling(self, period: float = 0.1) -> None:
        """Poll the tree's RSS from a helper process, so the polling costs
        the measured tree no CPU; the helper itself is excluded."""
        self._sampler = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "rss-peak", str(self.root),
             str(period), *map(str, self.exclude)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.exclude.add(self._sampler.pid)
        self._sampler.stdout.readline()  # "ready": the first sample is taken

    def stop_sampling(self) -> int:
        """Peak RSS in bytes since :meth:`start_sampling` (0 if not sampling)."""
        if self._sampler is None:
            return 0
        peak, _ = self._sampler.communicate("stop\n")
        self._sampler = None
        return max(int(peak), self.rss_bytes())


def _rss_peak_main(root: str, period: str, *exclude: str) -> None:
    """Helper process of :meth:`ProcTree.start_sampling`: sample until a line
    arrives on stdin, then print the peak."""
    tree = ProcTree(int(root), [int(p) for p in exclude] + [os.getpid()])
    peak = tree.rss_bytes()
    print("ready", flush=True)
    stop = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.readline(), stop.set()), daemon=True).start()
    while not stop.wait(float(period)):
        peak = max(peak, tree.rss_bytes())
    print(max(peak, tree.rss_bytes()), flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time that the hypervisor gave to other
    guests between two :func:`cpu_ticks` readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# -- streaming checkpoint ------------------------------------------------


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """Map each micro-batch id to the files it read.

    Reads the file source's log under ``<checkpoint>/sources/0/``: one
    file per batch (compacted ``N.compact`` files hold every entry up to
    N), a version line, then one JSON object per file with ``path`` and
    ``batchId``. Paths are returned as local paths (``file:`` stripped).
    """
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[int, set[str]] = defaultdict(set)
    if not os.path.isdir(log_dir):
        return {}
    for name in os.listdir(log_dir):
        stem = name.split(".")[0]
        if not stem.isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                path = entry["path"]
                if path.startswith("file:"):
                    path = path[len("file:") :]
                    while path.startswith("//"):
                        path = path[1:]
                out[int(entry["batchId"])].add(path)
    return {b: sorted(ps) for b, ps in sorted(out.items())}


# -- Redis state oracle --------------------------------------------------

#: DuckDB twins of the sink's four command builders. ``{src}`` is a
#: ``read_parquet`` relation over every event the stream was given.
_ORACLE_SQL = {
    "hashes": """
        SELECT 'stats:' || event_type || ':' ||
               coalesce(strftime(ts, '%Y:%m:%d:%H'), '-') AS key,
               count(*) AS n,
               coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS cents
        FROM {src} GROUP BY 1""",
    "top_users": """
        SELECT 'top_users:' || event_type AS key,
               coalesce(CAST(user_id AS VARCHAR), '-') AS member,
               count(*) AS score
        FROM {src} GROUP BY 1, 2""",
    "top_paths": """
        SELECT 'top_paths:' || event_type || ':' ||
               coalesce(strftime(ts, '%Y:%m:%d'), '-') AS key,
               coalesce('/p/' || json_extract_string(props, '$.k'), '-') AS member,
               count(*) AS score
        FROM {src} GROUP BY 1, 2""",
    "uniq": """
        SELECT DISTINCT 'uniq:' || event_type || ':' ||
               coalesce(strftime(ts, '%Y:%m:%d'), '-') AS key,
               coalesce(CAST(user_id AS VARCHAR), '-') AS member
        FROM {src}""",
}


def redis_oracle(con, files: list[str]) -> dict:
    """Expected ``{"hashes", "zsets", "sets"}`` after the sink applied every
    event in ``files`` exactly once (``con`` is a DuckDB connection)."""
    listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    src = f"read_parquet([{listing}])"
    q = {k: v.format(src=src) for k, v in _ORACLE_SQL.items()}
    hashes: dict = defaultdict(dict)
    for key, n, cents in con.execute(q["hashes"]).fetchall():
        hashes[key] = {"n": int(n), "cents": int(cents)}
    zsets: dict = defaultdict(dict)
    for part in ("top_users", "top_paths"):
        for key, member, score in con.execute(q[part]).fetchall():
            zsets[key][member] = float(score)
    sets: dict = defaultdict(set)
    for key, member in con.execute(q["uniq"]).fetchall():
        sets[key].add(member)
    return {"hashes": dict(hashes), "zsets": dict(zsets), "sets": dict(sets)}


def redis_state_diff(expected: dict, actual: dict, markers: set[str]) -> list[str]:
    """Differences between the oracle and a server dump (empty = equal).

    ``actual`` is the server's dump: ``hashes``/``zsets`` as nested dicts,
    ``sets`` as lists and ``kv`` as a dict. Besides the counters it checks
    that the batch markers (``<namespace>:batch:<id>`` keys) are exactly
    ``markers``, one per committed batch, and that no
    ``<namespace>:stage:<id>`` staging hash was left behind.
    """
    problems = []
    staging = sorted(k for k in actual["hashes"] if ":stage:" in k)
    if staging:
        problems.append(f"staging keys left behind: {staging[:3]}")
    got_h = {
        k: {f: int(x) for f, x in v.items()}
        for k, v in actual["hashes"].items()
        if ":stage:" not in k
    }
    if got_h != expected["hashes"]:
        odd = set(expected["hashes"]) ^ set(got_h)
        problems.append(f"stats hashes differ ({len(odd)} keys on one side only)")
    got_z = {k: {m: float(x) for m, x in v.items()} for k, v in actual["zsets"].items()}
    if got_z != expected["zsets"]:
        problems.append("ranking zsets differ")
    if {k: set(v) for k, v in actual["sets"].items()} != expected["sets"]:
        problems.append("unique-visitor sets differ")
    got_m = {k for k in actual["kv"] if ":batch:" in k}
    if got_m != markers:
        problems.append(
            f"batch markers differ: {sorted(got_m ^ markers)[:3]} on one side only"
        )
    return problems


# -- tracing -------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent); no I/O until
    :meth:`dump`. A disabled tracer's :meth:`span` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            # a thread's first span hangs under the first span of the run
            parent = stack[-1] if stack else (0 if self.spans else None)
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "layer": layer, "start": time.time(), "end": None,
                 "parent": parent}
            )
        stack.append(idx)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx]["end"] = time.time()
            stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Seconds spent in each layer's spans that started at or after
        ``since`` (wall clock), minus the time their child spans cover."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s, t in zip(self.spans, own):
            if s["start"] >= since:
                out[s["layer"]] += t
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


if __name__ == "__main__":
    if sys.argv[1] == "rss-peak":
        _rss_peak_main(*sys.argv[2:])
