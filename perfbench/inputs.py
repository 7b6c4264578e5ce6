"""Seeded input generator for the workload benchmark.

Everything is derived from one integer seed, so the same seed always
gives byte-identical inputs.  Inputs are cached per (size profile,
seed, hash of this file) under ``<checkout>/.perfbench/cache`` and
built atomically (a temporary directory renamed into place), so a run
never sees a half written or outdated cache entry.  Nothing here calls
the library: the inputs do not change when the code under test does.

* **climate grid** -- daily ``tas``, ``tasmax``, ``tasmin``, ``pr``,
  ``hurs`` and ``sfcWind`` per cell: a seasonal cycle plus per-cell
  offsets and AR(1) anomalies, precipitation from a two-state Markov
  chain (dry spells) with gamma-distributed wet-day amounts, and a
  planted share of missing ``tasmax``/``tasmin`` days.  Stored as a
  year-partitioned parquet dataset and as one classic NetCDF file per
  five years (``tas``, ``pr``, ``hurs``, ``sfcWind``), written by
  :func:`write_cdf1` from the format specification.
* **shifted grid** -- a biased "model" ``tas`` for quantile mapping.
* **replay files** -- the last year of the grid cut into time-ordered
  parquet files, one per micro-batch, with increasing mtimes.
* **corpus** -- documents with planted exact-clone groups, near-
  duplicate chains, unrelated unique documents, a previous-crawl
  snapshot, documents contaminated with eval-set 8-grams, PII strings
  and low-quality text; the planted ground truth is ``truth.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes per profile.  ``full`` is what the benchmark measures;
#: ``tiny`` drives the self-test.
SIZES = {
    "full": {"cells": 8, "y0": 1981, "y1": 2010,
             "replay_years": 1, "replay_files": 2,
             "unique": 700, "clone_groups": (2, 3, 4, 6, 8),
             "clone_reps": 8, "chains": 20, "chain_depth": 4,
             "seen": 40, "contaminated": 20, "pii": 40, "low": 40,
             "eval_docs": 20},
    "tiny": {"cells": 3, "y0": 1991, "y1": 2000,
             "replay_years": 1, "replay_files": 3,
             "unique": 120, "clone_groups": (2, 3, 5),
             "clone_reps": 2, "chains": 4, "chain_depth": 4,
             "seen": 10, "contaminated": 6, "pii": 8, "low": 10,
             "eval_docs": 5},
}

LAT = 45.0
STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that", "it", "for")


def cache_dir(root: str, profile: str, seed: int) -> str:
    with open(__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, ".perfbench", "cache",
                        f"{profile}-s{seed}-{code}")


def ensure_inputs(root: str, profile: str, seed: int) -> str:
    """Return the cache directory for ``(profile, seed)``, generating it
    first when absent."""
    out = cache_dir(root, profile, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    size = SIZES[profile]
    rng = np.random.default_rng(seed)
    grid = make_grid(rng, size)
    write_grid(grid, tmp)
    write_shifted(rng, grid, tmp)
    write_replay(grid, size, tmp)
    write_corpus(rng, size, tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write(f"{profile} {seed}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# -- climate grid ------------------------------------------------------

def make_grid(rng: np.random.Generator, size: dict) -> pd.DataFrame:
    days = pd.date_range(f"{size['y0']}-01-01", f"{size['y1']}-12-31",
                         freq="D")
    n, ncell = len(days), size["cells"]
    doy = days.dayofyear.to_numpy()
    season = np.sin((doy - 110) / 365.25 * 2 * np.pi)
    frames = []
    for c in range(ncell):
        base = rng.uniform(2.0, 16.0)
        amp = rng.uniform(9.0, 15.0)
        eps = rng.normal(0.0, 2.2, n)
        anom = np.empty(n)
        a = 0.0
        for i in range(n):  # AR(1) anomalies
            a = 0.6 * a + eps[i]
            anom[i] = a
        tas = base + amp * season + anom
        dtr = np.clip(8.0 + 2.0 * season + rng.normal(0, 1.5, n), 1.0, None)
        wet = np.empty(n, dtype=bool)
        state = False
        u = rng.random(n)
        p_wet = rng.uniform(0.2, 0.3)
        for i in range(n):  # two-state Markov chain -> dry spells
            state = u[i] < (0.62 if state else p_wet)
            wet[i] = state
        amount = 1.0 + rng.gamma(0.8, 6.0, n)
        pr = np.where(wet, amount, rng.uniform(0.0, 0.9, n) * (u < 0.3))
        hurs = np.clip(65 - 1.2 * anom + 12 * wet + rng.normal(0, 8, n),
                       5.0, 100.0)
        ws = np.clip(12 + rng.normal(0, 4, n), 0.0, None)
        frames.append(pd.DataFrame({
            "cell": np.int64(c), "time": days, "tas": tas,
            "tasmax": tas + dtr / 2, "tasmin": tas - dtr / 2, "pr": pr,
            "hurs": hurs, "sfcWind": ws}))
    grid = pd.concat(frames, ignore_index=True)
    # planted missing days on tasmax / tasmin (about 1 per 1000 values)
    for v in ("tasmax", "tasmin"):
        miss = rng.random(len(grid)) < 0.001
        grid.loc[miss, v] = np.nan
    return grid


def _arrow(df: pd.DataFrame) -> pa.Table:
    # NaN -> null, so Spark and DuckDB both see SQL NULLs
    cols = {}
    for c in df.columns:
        s = df[c]
        if c == "time":
            cols[c] = pa.array(s.dt.date, pa.date32())
        elif s.dtype.kind == "f":
            cols[c] = pa.array(s.to_numpy(), pa.float64(),
                               mask=np.isnan(s.to_numpy()))
        else:
            cols[c] = pa.array(s.to_numpy())
    return pa.table(cols)


def write_grid(grid: pd.DataFrame, out: str) -> None:
    tbl = _arrow(grid).append_column(
        "year", pa.array(grid["time"].dt.year.to_numpy(), pa.int32()))
    pq.write_to_dataset(tbl, os.path.join(out, "grid"),
                        partition_cols=["year"])
    # classic NetCDF, one file per 5 years: dims (time, cell)
    nc = os.path.join(out, "nc")
    os.makedirs(nc)
    ncell = int(grid["cell"].max()) + 1
    year = grid["time"].dt.year
    for y0, g in grid.groupby(year - (year - year.min()) % 5):
        g = g.sort_values(["time", "cell"])
        nday = len(g) // ncell
        write_cdf1(os.path.join(nc, f"grid_{y0}.nc"), ncell,
                   f"days since {y0}-01-01",
                   {v: g[v].to_numpy().reshape(nday, ncell)
                    for v in ("tas", "pr", "hurs", "sfcWind")})


def _cdf_name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\0" * (-len(b) % 4)


def write_cdf1(path: str, ncell: int, time_units: str,
               data: dict[str, np.ndarray]) -> None:
    """A classic (CDF-1) NetCDF file: record dimension ``time`` (int32
    day offsets carrying ``time_units``), fixed dimension ``cell`` and
    one float64 ``(time, cell)`` record variable per entry of ``data``.

    Layout, big-endian: magic, numrecs, dim list, empty global
    attribute list, var list (name, dim ids, attributes, type, vsize,
    begin), the fixed ``cell`` coordinate, then one record per day
    holding each record variable's slab in var-list order."""
    NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 10, 11, 12
    NC_CHAR, NC_INT, NC_DOUBLE = 2, 4, 6
    nday = len(next(iter(data.values())))
    units = time_units.encode()
    head = (b"CDF\x01" + struct.pack(">i", nday)
            + struct.pack(">ii", NC_DIMENSION, 2)
            + _cdf_name("time") + struct.pack(">i", 0)
            + _cdf_name("cell") + struct.pack(">i", ncell)
            + struct.pack(">ii", 0, 0))
    # (name, dim ids, type, vsize: bytes of the whole fixed variable or
    # of one record's slab, units attribute)
    var = [("cell", (1,), NC_INT, 4 * ncell, None),
           ("time", (0,), NC_INT, 4, units)]
    var += [(v, (0, 1), NC_DOUBLE, 8 * ncell, None) for v in data]

    def var_list(begins: list[int]) -> bytes:
        out = struct.pack(">ii", NC_VARIABLE, len(var))
        for (name, dims, t, vsize, att), begin in zip(var, begins):
            out += _cdf_name(name) + struct.pack(f">i{len(dims)}i",
                                                 len(dims), *dims)
            if att is None:
                out += struct.pack(">ii", 0, 0)
            else:
                out += (struct.pack(">ii", NC_ATTRIBUTE, 1)
                        + _cdf_name("units")
                        + struct.pack(">ii", NC_CHAR, len(att)) + att
                        + b"\0" * (-len(att) % 4))
            out += struct.pack(">iii", t, vsize, begin)
        return out

    off = len(head) + len(var_list([0] * len(var)))
    begins = [off]
    off += 4 * ncell  # the record region follows the fixed variable
    for _, _, _, vsize, _ in var[1:]:
        begins.append(off)
        off += vsize
    rec = np.empty(nday, dtype=[("time", ">i4")]
                   + [(v, ">f8", (ncell,)) for v in data])
    rec["time"] = np.arange(nday)
    for v, a in data.items():
        rec[v] = a
    with open(path, "wb") as f:
        f.write(head + var_list(begins))
        f.write(np.arange(ncell, dtype=">i4").tobytes())
        f.write(rec.tobytes())


def write_shifted(rng: np.random.Generator, grid: pd.DataFrame,
                  out: str) -> None:
    """A biased simulation of ``tas``: warmer, wider and noisier."""
    mean = grid.groupby("cell")["tas"].transform("mean")
    sim = (mean + 1.25 * (grid["tas"] - mean) + 1.5
           + rng.normal(0, 0.8, len(grid)))
    pq.write_table(_arrow(pd.DataFrame({
        "cell": grid["cell"], "time": grid["time"], "tas": sim})),
        os.path.join(out, "sim.parquet"))


def write_replay(grid: pd.DataFrame, size: dict, out: str) -> None:
    """Time-ordered replay files: the grid's last ``replay_years``, cut
    into ``replay_files`` slices."""
    last = grid["time"].dt.year > size["y1"] - size["replay_years"]
    rep = grid.loc[last, ["cell", "time", "tas", "pr", "hurs", "sfcWind"]] \
        .rename(columns={"time": "ts"})
    rep["ts"] = rep["ts"] + pd.Timedelta(hours=12)
    days = np.sort(rep["ts"].unique())
    d = os.path.join(out, "replay")
    os.makedirs(d)
    mtime = 1_600_000_000
    for j, chunk in enumerate(np.array_split(days, size["replay_files"])):
        part = rep[rep["ts"].isin(chunk)].sort_values(["cell", "ts"])
        p = os.path.join(d, f"part_{j:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       p, coerce_timestamps="us")
        os.utime(p, (mtime + j * 10, mtime + j * 10))
    pq.write_table(pa.Table.from_pandas(rep, preserve_index=False),
                   os.path.join(out, "replay_all.parquet"),
                   coerce_timestamps="us")


# -- corpus ------------------------------------------------------------

def write_corpus(rng: np.random.Generator, size: dict, out: str) -> None:
    letters = np.array(list(string.ascii_lowercase))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 10)))
                    for _ in range(5000)} - set(STOPWORDS))

    def words(k: int, good: bool) -> list[str]:
        w = list(rng.choice(vocab, k))
        if good:  # stopword-rich "high quality" prose
            for i in np.flatnonzero(rng.random(k) < 0.3):
                w[i] = STOPWORDS[rng.integers(len(STOPWORDS))]
        return w

    def doc(good: bool | None = None) -> tuple[str, bool]:
        g = bool(rng.random() < 0.5) if good is None else good
        return " ".join(words(int(rng.integers(40, 80)), g)), g

    texts, kinds, groups, labels = [], [], [], []

    def add(t, kind, group, label):
        texts.append(t)
        kinds.append(kind)
        groups.append(group)
        labels.append(int(label))

    for _ in range(size["unique"]):
        t, g = doc()
        add(t, "unique", -1, g)
    gid = 0
    for _ in range(size["clone_reps"]):
        for m in size["clone_groups"]:
            t, g = doc()
            for _ in range(m):
                add(t, "clone", gid, g)
            gid += 1
    for _ in range(size["chains"]):
        t, g = doc()
        w = t.split()
        for _ in range(size["chain_depth"]):
            add(" ".join(w), "chain", gid, g)
            w = list(w)
            w[int(rng.integers(len(w)))] = str(rng.choice(vocab))
        gid += 1
    evals = [doc(True)[0] for _ in range(size["eval_docs"])]
    for _ in range(size["contaminated"]):
        e = evals[int(rng.integers(len(evals)))].split()
        s = int(rng.integers(0, len(e) - 12))
        w = words(int(rng.integers(30, 50)), True)
        pos = int(rng.integers(len(w)))
        add(" ".join(w[:pos] + e[s:s + 12] + w[pos:]), "contaminated", -1,
            True)
    pii_truth = []
    for i in range(size["pii"]):
        w = words(int(rng.integers(40, 70)), True)
        email = f"{rng.choice(vocab)}.{i}@{rng.choice(vocab)}.org"
        ip = ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
        phone = (f"+{int(rng.integers(1, 99))} {int(rng.integers(100, 999))}"
                 f" {int(rng.integers(100, 999))} "
                 f"{int(rng.integers(1000, 9999))}")
        for s in (email, ip, phone):
            w.insert(int(rng.integers(len(w))), s)
        add(" ".join(w), "pii", -1, True)
        pii_truth.append([email, ip, phone])
    for i in range(size["low"]):
        if i % 2:
            t = " ".join(str(int(x)) + "#%" for x in
                         rng.integers(0, 10 ** 6, int(rng.integers(20, 40))))
        else:
            t = " ".join(rng.choice(vocab, int(rng.integers(1, 4))))
        add(t, "low", -1, False)
    n_body = len(texts)
    seen = []
    for i in range(size["seen"]):  # in the previous crawl's snapshot
        t, g = doc()
        add(t, "seen", -1, g)
        seen.append(t)

    n = len(texts)
    ids = rng.permutation(n).astype("int64")
    src = np.array([f"src{int(i) % 4}" for i in ids])
    df = pd.DataFrame({"doc_id": ids, "source": src, "text": texts})
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(evals)),
                                                pa.int64()),
                             "text": evals}),
                   os.path.join(out, "eval.parquet"))
    pq.write_table(pa.table({"text": seen}),
                   os.path.join(out, "snapshot.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "label": pa.array(labels, pa.int32())}),
                   os.path.join(out, "labels.parquet"))
    pii_ids = [int(ids[i]) for i in range(n) if kinds[i] == "pii"]
    truth = {
        "kind": {int(ids[i]): kinds[i] for i in range(n)},
        "group": {int(ids[i]): groups[i] for i in range(n)
                  if groups[i] >= 0},
        "label": {int(ids[i]): labels[i] for i in range(n)},
        "pii": dict(zip(map(str, pii_ids), pii_truth)),
        "n_body": n_body,
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
