"""Seeded benchmark inputs and their reference-implementation oracle.

Two page mixes, both built from ``logparse_rs_spark.fixtures``:

- ``default``: ``fixtures.make_page(seq, seed)`` unchanged (Zipf hot
  domains, ~10 % syslog-prefixed pages, ~5 % quoted TRAFFIC fields, 1-20
  lines per page) -- the bytes ``generate_pages`` and
  ``write_pages_parquet_distributed`` produce, since every page seeds its
  own rng from (seed, seq).
- ``hostile``: the default pages transformed so the Python fallback paths
  and task skew dominate: every non-empty line syslog-prefixed, ~25 % of
  lines carrying a quoted comma-containing field, and 1 % of pages grown
  to hundreds or thousands of lines.

Pages are generated and reduced in chunks by spawned worker processes.

The oracle is ``refimpl.extract_page_records`` (pure Python, independent of
the Spark path), reduced to status counts, ok rows per log type and the
per-url XOR of ``hash64``. Pages and oracle are cached per
(mix, size, seed, fixture version, config digest).
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from typing import Dict, List, Tuple

import numpy as np

# bump when this file changes the generated bytes or the oracle's shape
INPUT_VERSION = 1


def _config_digest(root: str) -> str:
    h = hashlib.sha256()
    for cfg in ("schemas/schema.json", "configs/anonymizer.sample.json"):
        with open(os.path.join(root, cfg), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:8]


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: Spark's ``xxhash64`` of a
    string column (default seed 42), so ``pmod(., n)`` is the pipeline's
    bucket of a url."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i <= n - 32:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def heavy_pages(n_pages: int, seed: int, n_buckets: int) -> Dict[int, int]:
    """seq -> line count for the hostile mix's heavy tail: 1 % of the pages,
    with lengths at fixed quantiles of a Pareto tail (200..3000 lines).
    Lengths go to buckets in a fixed order that alternates the first and the
    second half of the buckets; ``seed`` only picks which page of each bucket
    is grown. Each bucket, and so the cut and the resumed half of the run,
    gets the same heavy load for every seed."""
    from logparse_rs_spark.fixtures import _idx_map, make_page

    k = max(1, n_pages // 100)
    q = (np.arange(k) + 0.5) / k
    lengths = sorted(np.minimum(3000, 200 * (1 - q) ** (-1 / 1.2)).astype(int),
                     reverse=True)
    half = n_buckets // 2
    order = [b for i in range(half) for b in (i, half + i)]
    pending: Dict[int, List[int]] = {}
    for j, n in enumerate(lengths):
        pending.setdefault(order[j % len(order)], []).append(int(n))
    idx_map = _idx_map()
    out: Dict[int, int] = {}
    for seq in np.random.default_rng([seed, 0x7A11]).permutation(n_pages):
        url = make_page(int(seq), idx_map, seed)["url"]
        slots = pending.get(xxhash64(url.encode("utf-8")) % n_buckets)
        if slots:
            out[int(seq)] = slots.pop(0)
            if len(out) == k:
                break
    return out


def hostile_text(text: str, seq: int, seed: int, n_lines: int,
                 idx_map: Dict[str, int]) -> str:
    """One default page -> its hostile form: grown to ``n_lines`` lines,
    ~25 % of lines given a quoted comma-containing field, every non-empty
    line syslog-prefixed."""
    from logparse_rs_spark.fixtures import (LOG_TYPES, QUOTED_COUNTRIES,
                                            SYSLOG_PREFIX, _TYPE_WEIGHTS,
                                            make_line)

    rng = np.random.default_rng([seed, seq, 0x5EED])
    lines = text.split("\n")
    while len(lines) < n_lines:
        t = LOG_TYPES[int(rng.choice(len(LOG_TYPES), p=_TYPE_WEIGHTS))]
        lines.append(make_line(rng, t, idx_map))
    out = []
    for line in lines:
        if line and '"' not in line and rng.random() < 0.25:
            fields = line.split(",")
            if len(fields) > 41:
                fields[41] = QUOTED_COUNTRIES[
                    int(rng.integers(len(QUOTED_COUNTRIES)))]
                line = ",".join(fields)
        if line and not line.startswith("Oct "):
            line = SYSLOG_PREFIX.format(
                host=f"host{int(rng.integers(5))}") + line
        out.append(line)
    return "\n".join(out)


def _chunk(args: Tuple[str, str, int, Dict[int, int], int, int]) -> dict:
    """Generate pages [lo, hi) of one mix and reduce them with the
    reference implementation."""
    root, mix, seed, heavy, lo, hi = args
    from logparse_rs_spark.anonymizer import load_anonymizer
    from logparse_rs_spark.fixtures import _idx_map, make_page
    from logparse_rs_spark.refimpl import extract_page_records
    from logparse_rs_spark.schema import load_schema

    schema = load_schema(os.path.join(root, "schemas", "schema.json"))
    anon = load_anonymizer(os.path.join(root, "configs",
                                        "anonymizer.sample.json"))
    idx_map = _idx_map()
    pages = [make_page(seq, idx_map, seed) for seq in range(lo, hi)]
    status: Dict[str, int] = {}
    ok_by_type: Dict[str, int] = {}
    url_xor: Dict[str, str] = {}
    for seq, page in zip(range(lo, hi), pages):
        if mix == "hostile":
            page["text"] = hostile_text(page["text"], seq, seed,
                                        heavy.get(seq, 0), idx_map)
        x = 0
        for r in extract_page_records(page["url"], page["text"], schema,
                                      anon):
            status[r["status"]] = status.get(r["status"], 0) + 1
            if r["status"] == "ok":
                ok_by_type[r["log_type"]] = ok_by_type.get(r["log_type"], 0) + 1
                x ^= r["hash64"]
        url_xor[page["url"]] = f"{x:016x}"
    cols = {k: [p[k] for p in pages]
            for k in ("url", "warc_ts", "html", "text", "lang")}
    return {"cols": cols, "status": status, "ok_by_type": ok_by_type,
            "url_xor": url_xor}


def stop_resource_tracker() -> None:
    """Stop the helper process a spawn pool leaves behind (it outlives the
    pool to unlink semaphores) and wait for it to exit."""
    from multiprocessing import resource_tracker

    gc.collect()  # finalize the pool's queues: they unregister first
    resource_tracker._resource_tracker._stop()


def build(root: str, mix: str, n_pages: int, seed: int, n_buckets: int,
          workers: int) -> Tuple[Dict[str, list], dict]:
    """(page columns, oracle), generated in ``workers`` spawned processes."""
    heavy = (heavy_pages(n_pages, seed, n_buckets) if mix == "hostile"
             else {})
    step = (n_pages + 4 * workers - 1) // (4 * workers)
    tasks = [(root, mix, seed, heavy, lo, min(lo + step, n_pages))
             for lo in range(0, n_pages, step)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        parts = list(pool.map(_chunk, tasks))
    del pool
    stop_resource_tracker()
    cols: Dict[str, list] = {k: [] for k in parts[0]["cols"]}
    oracle: dict = {"status": {}, "ok_by_type": {}, "url_xor": {}}
    for p in parts:
        for k, v in p["cols"].items():
            cols[k].extend(v)
        for key in ("status", "ok_by_type"):
            for k, v in p[key].items():
                oracle[key][k] = oracle[key].get(k, 0) + v
        oracle["url_xor"].update(p["url_xor"])
    oracle["docs"] = n_pages
    oracle["lines"] = sum(oracle["status"].values())
    return cols, oracle


def ensure_inputs(root: str, cache_dir: str, mix: str, n_pages: int,
                  seed: int, n_buckets: int, workers: int
                  ) -> Tuple[str, dict]:
    """(pages parquet path, oracle dict) for one (mix, size, seed, bucket
    count), cached."""
    from logparse_rs_spark.fixtures import (FIXTURE_VERSION,
                                            write_pages_parquet)

    tag = (f"{mix}_n{n_pages}_s{seed}_b{n_buckets}_f{FIXTURE_VERSION}"
           f"_c{_config_digest(root)}_i{INPUT_VERSION}")
    d = os.path.join(cache_dir, tag)
    pages_path = os.path.join(d, "pages.parquet")
    oracle_path = os.path.join(d, "oracle.json")
    if os.path.exists(pages_path) and os.path.exists(oracle_path):
        with open(oracle_path) as f:
            return pages_path, json.load(f)
    pages, oracle = build(root, mix, n_pages, seed, n_buckets, workers)
    tmp = d + f".tmp{os.getpid()}"
    write_pages_parquet(os.path.join(tmp, "pages.parquet"), n_pages,
                        cols=pages)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return pages_path, oracle
