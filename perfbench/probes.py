"""Measurement helpers: process-tree RSS sampling, the driver-side kernel
microbenchmark, the output-root digest and listing used by the checks."""

from __future__ import annotations

import os
import threading
import time
from statistics import median
from typing import Dict, List

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_steal() -> Dict[str, int]:
    """Cumulative CPU jiffies from /proc/stat: all, and stolen by the
    hypervisor (time other guests ran while this one wanted to)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(fields), "steal": fields[7] if len(fields) > 7 else 0}


def children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of ``root_pid`` (not itself): the
    driver JVM and the Python workers it forks."""
    kids = children_map()
    total, stack = 0, list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread sampling the descendants' RSS; ``window()`` returns
    the peak since the previous call."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def window(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, tree_rss_bytes(os.getpid())
        return peak


def kernel_rates(raw_lines: List[str], min_s: float = 0.3) -> Dict[str, float]:
    """Rows per second of each vectorized parse kernel on ``raw_lines``,
    single-threaded on the driver (median of three timed passes)."""
    import pandas as pd

    from logparse_rs_spark import kernels

    raw = pd.Series(raw_lines, dtype=object)
    stripped = kernels.strip_syslog_prefix_series(raw)
    values = stripped.str.slice(0, 16)
    cases = {
        "strip": lambda: kernels.strip_syslog_prefix_series(raw),
        "fnv1a": lambda: kernels.fnv1a_series(stripped),
        "split_csv": lambda: kernels.split_csv_series(stripped),
        "tokenize": lambda: kernels.tokenize_series(
            values, "SRC_", "field-salt", "default-salt"),
    }
    out = {}
    for name, fn in cases.items():
        rates = []
        for _ in range(3):
            n, t0 = 0, time.perf_counter()
            while True:
                fn()
                n += len(raw)
                dt = time.perf_counter() - t0
                if dt >= min_s / 3:
                    break
            rates.append(n / dt)
        out[name] = median(rates)
    return out


def read_sink_digest(out_root: str) -> Dict[str, object]:
    """ok rows per log type, per-url XOR of hash64 and reject rows, read
    back from the pipeline's sink tables (pyarrow, no Spark job)."""
    import pyarrow.dataset as ds

    rows: Dict[str, int] = {}
    urls, hashes = [], []
    for table in ("sink_fact", "sink_other"):
        path = os.path.join(out_root, table)
        if not os.path.isdir(path):
            continue
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=["url", "hash64", "log_type"])
        types = t.column("log_type").to_pylist()
        for lt in types:
            rows[lt] = rows.get(lt, 0) + 1
        urls.append(np.asarray(t.column("url").to_pylist(), dtype=object))
        hashes.append(t.column("hash64").to_numpy().astype(np.int64)
                      .view(np.uint64))
    url_xor: Dict[str, str] = {}
    if urls:
        u, h = np.concatenate(urls), np.concatenate(hashes)
        order = np.argsort(u, kind="stable")
        u, h = u[order], h[order]
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        for url, x in zip(u[starts], np.bitwise_xor.reduceat(h, starts)):
            url_xor[url] = f"{int(x):016x}"
    rej = os.path.join(out_root, "_rejects")
    rejects = (ds.dataset(rej, format="parquet", partitioning="hive")
               .count_rows() if os.path.isdir(rej) else 0)
    return {"rows": rows, "url_xor": url_xor, "rejects": rejects}


def listing(out_root: str) -> Dict[str, int]:
    """Data files and bytes the writers left under ``out_root``."""
    files = size = 0
    for d, _, names in os.walk(out_root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"files": files, "bytes": size}


def bucket_skew(out_root: str, run_id: str) -> float:
    """max/median rows_in per bucket in ``_metrics`` for one run."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(out_root, "_metrics"),
                   format="parquet").to_table(
        columns=["bucket", "rows_in", "run_id"]).to_pandas()
    per = t[t["run_id"] == run_id].groupby("bucket")["rows_in"].sum()
    return float(per.max() / max(per.median(), 1))
