"""The benchmark's workloads: one timed pass each, plus the checks run on
the last pass's outputs.

A pass calls the library only through the public functions the
examples compose.  Every call goes through ``ctx.call`` (the build
span: until the call returns) and every action through ``ctx.write``
or ``ctx.persist`` (the exec span), so the traced run can split each
layer's time.  Checks compare against computations made apart from the
library (DuckDB SQL, numpy, plain Python) or against properties the
method must have; each check is one operation.
"""

from __future__ import annotations

import glob
import json
import math

import duckdb
import numpy as np
import pandas as pd

from inputs import LAT

CELLS = ["cell"]
DEGC = {"tas": "degC", "tasmax": "degC", "tasmin": "degC", "pr": "mm/d"}


def _read(path: str) -> pd.DataFrame:
    return duckdb.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                      "hive_partitioning=true)").df()


# -- indices -----------------------------------------------------------

#: (indicator, variable bindings, extra parameters)
INDICES = (
    ("tg_mean", {"tas": "tas"}, {"freq": "MS"}),
    ("tx_days_above", {"tasmax": "tasmax"}, {"thresh": "25 degC"}),
    ("CDD", {"pr": "pr"}, {}),
    ("tg90p", {"tas": "tas"}, {}),
)


def indices_pass(ctx) -> None:
    from xclim_spark.indicators import registry
    from xclim_spark.io.dataset import read_dataset
    from xclim_spark.operators.percentile import percentile_doy

    df = ctx.call("io", "read_dataset", read_dataset, ctx.spark,
                  ctx.inp("grid"))
    for name, binds, params in INDICES:
        def build(name=name, binds=binds, params=params):
            kw = dict(params)
            if name == "tg90p":
                kw["per"] = percentile_doy(df, "tas", 0.9, window=5,
                                           time="time", cells=CELLS)
            units = {v: DEGC[c] for v, c in binds.items()}
            return registry[name](df, time="time", cells=CELLS,
                                  missing="any", units=units, **binds,
                                  **kw).df
        out = ctx.call("indicators", name, build)
        ctx.write("indicators", name, out, f"ind_{name}", time="period")


def _grid_db() -> str:
    return ("SELECT cell, time, tas, tasmax, tasmin, pr, "
            "date_trunc('year', time)::DATE AS period FROM grid")


def indices_checks(ctx) -> list[tuple[str, bool, str]]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW grid AS SELECT * FROM read_parquet("
                f"'{ctx.inp('grid')}/**/*.parquet', hive_partitioning=true)")
    year_mask = ("CASE WHEN count({v}) < count(*) OR count(*) < "
                 "(date_diff('day', period, period + INTERVAL 1 YEAR)) "
                 "THEN NULL ELSE {agg} END")
    exp = {
        "tg_mean": ("SELECT cell, date_trunc('month', time)::DATE AS period,"
                    " CASE WHEN count(tas) < count(*) THEN NULL "
                    "ELSE avg(tas) END AS v FROM grid GROUP BY cell, 2"),
        "tx_days_above": (
            f"SELECT cell, period, {year_mask.format(v='tasmax', agg='count(*) FILTER (WHERE tasmax > 25)')} AS v"
            f" FROM ({_grid_db()}) GROUP BY cell, period"),
        "CDD": _longest_run_sql("pr < 1"),
    }
    out = []
    for name, sql in exp.items():
        want = con.execute(sql).df()
        got = _read(ctx.out(f"ind_{name}"))
        out.append(_compare(f"indices.{name}", want, got, name))
    out.append(_check_tg90p(ctx, con))
    return out


def _longest_run_sql(cond: str, var: str | None = None) -> str:
    """Gaps-and-islands: longest run of ``cond`` per (cell, year);
    NULL for a year with a missing ``var`` value."""
    miss = f"count({var}) < count(*)" if var else "false"
    return f"""
    WITH g AS (SELECT cell, period, time, ({cond}) AS hit,
                      row_number() OVER w - row_number() OVER
                        (PARTITION BY cell, period, ({cond}) ORDER BY time)
                        AS isl
               FROM ({_grid_db()})
               WINDOW w AS (PARTITION BY cell, period ORDER BY time)),
         runs AS (SELECT cell, period, count(*) FILTER (WHERE hit) AS n
                  FROM g GROUP BY cell, period, isl, hit),
         y AS (SELECT cell, period, {miss} AS miss FROM ({_grid_db()})
               GROUP BY cell, period)
    SELECT y.cell, y.period,
           CASE WHEN miss THEN NULL ELSE coalesce(max(n), 0) END AS v
    FROM y LEFT JOIN runs USING (cell, period)
    GROUP BY y.cell, y.period, miss"""


def _compare(label, want, got, col, tol=1e-6) -> tuple[str, bool, str]:
    got = got.rename(columns={col: "got"})
    got["period"] = pd.to_datetime(got["period"])
    want["period"] = pd.to_datetime(want["period"])
    m = want.merge(got[["cell", "period", "got"]], on=["cell", "period"],
                   how="outer", indicator=True)
    if len(m) != len(want) or (m["_merge"] != "both").any():
        return label, False, f"keys differ: {len(want)} vs {len(got)}"
    a, b = m["v"].astype(float), m["got"].astype(float)
    bad = ~((a.isna() & b.isna()) | ((a - b).abs() <= tol * (1 + a.abs())))
    n_null = int(a.isna().sum())
    return label, not bad.any(), f"{int(bad.sum())} of {len(m)} differ, " \
        f"{n_null} masked"


def _check_tg90p(ctx, con) -> tuple[str, bool, str]:
    """Day-of-year 90th percentile (5-day window, Hyndman-Fan type 8,
    365-day axis) and exceedance counts, in numpy on a cell sample."""
    got = _read(ctx.out("ind_tg90p"))
    got["period"] = pd.to_datetime(got["period"])
    cells = sorted(got["cell"].unique())[:3]
    bad = 0
    for c in cells:
        g = con.execute(f"SELECT time, tas FROM grid WHERE cell = {c} "
                        "ORDER BY time").df()
        t = pd.to_datetime(g["time"])
        leap = t.dt.is_leap_year.to_numpy()
        doy = t.dt.dayofyear.to_numpy() - (leap & (t.dt.dayofyear > 59)
                                           .to_numpy())
        x = g["tas"].to_numpy()
        per = np.empty(366)
        for d in range(1, 366):
            near = ((doy - d + 182) % 365) - 182
            per[d] = np.percentile(x[np.abs(near) <= 2], 90,
                                   method="median_unbiased")
        exceed = x > per[doy]
        want = pd.Series(exceed).groupby(t.dt.year.to_numpy()).sum()
        mine = got[got["cell"] == c]
        mine = mine.set_index(mine["period"].dt.year)
        for y, n in want.items():
            if int(mine.loc[y, "tg90p"]) != int(n):
                bad += 1
    return "indices.tg90p", bad == 0, f"{bad} cell-years differ"


# -- fits --------------------------------------------------------------

def fits_pass(ctx) -> None:
    from xclim_spark.io.netcdf3 import ingest_netcdf3
    from xclim_spark.operators.fire import cffwis_indices
    from xclim_spark.sdba import EmpiricalQuantileMapping
    from xclim_spark.stats import fa, standardized_precipitation_index

    paths = sorted(glob.glob(ctx.inp("nc/*.nc")))
    df = ctx.call("io", "ingest_netcdf3", ingest_netcdf3, ctx.spark, paths,
                  ["tas", "pr", "hurs", "sfcWind"])
    ctx.persist("io", "ingest_netcdf3", df)
    y0, y1 = ctx.years
    spi = ctx.call("stats", "spi", standardized_precipitation_index, df,
                   "pr", freq="MS", cal_start=f"{y0}-01-01",
                   cal_end=f"{y1}-12-31", time="time", cells=CELLS)
    ctx.write("stats", "spi", spi, "spi")
    rl = ctx.call("stats", "fa", fa, df, "pr", [2, 10, 50], "gumbel_r",
                  "max", "PWM", time="time", cells=CELLS)
    ctx.write("stats", "fa", rl, "fa")
    fwi = ctx.call("operators.fire", "cffwis_indices", cffwis_indices, df,
                   tas="tas", pr="pr", hurs="hurs", sfcWind="sfcWind",
                   lat=LAT, time="time", cells=CELLS)
    ctx.write("operators.fire", "cffwis_indices", fwi, "fwi")
    sim = ctx.spark.read.parquet(ctx.inp("sim.parquet"))
    eqm = EmpiricalQuantileMapping(nquantiles=20, kind="+")
    ctx.call("sdba", "eqm_train", eqm.train, df, sim, "tas", time="time",
             cells=CELLS)
    adj = ctx.call("sdba", "eqm_adjust", eqm.adjust, sim, "tas",
                   time="time", cells=CELLS)
    ctx.write("sdba", "eqm_adjust", adj, "eqm")


def fits_checks(ctx) -> list[tuple[str, bool, str]]:
    from xclim_spark.io.netcdf3 import ingest_netcdf3
    from xclim_spark.operators.fire import cffwis_1d

    out = []
    grid = _read(ctx.inp("grid")).sort_values(["cell", "time"])
    grid["time"] = pd.to_datetime(grid["time"])
    # 1. ingested rows equal the arrays written
    paths = sorted(glob.glob(ctx.inp("nc/*.nc")))
    ing = ingest_netcdf3(ctx.spark, paths, ["tas", "pr", "hurs", "sfcWind"]) \
        .toPandas().sort_values(["cell", "time"])
    ok = len(ing) == len(grid)
    for v in ("tas", "pr", "hurs", "sfcWind"):
        ok = ok and np.array_equal(ing[v].to_numpy(), grid[v].to_numpy())
    out.append(("fits.ingest", bool(ok), f"{len(ing)} rows, {len(paths)} files"))
    # 2. Gumbel return levels from L-moments of annual maxima
    rl = _read(ctx.out("fa"))
    ann = grid.groupby(["cell", grid["time"].dt.year])["pr"].max()
    bad = 0
    for c, x in ann.groupby(level=0):
        x = np.sort(x.to_numpy())
        n = len(x)
        b0 = x.mean()
        b1 = np.sum(np.arange(n) / (n - 1) * x) / n
        scale = (2 * b1 - b0) / math.log(2)
        loc = b0 - 0.5772156649015329 * scale
        for _, r in rl[rl["cell"] == c].iterrows():
            t = r["return_period"]
            want = loc - scale * math.log(-math.log(1 - 1 / t))
            bad += not abs(r["value"] - want) <= 1e-6 * (1 + abs(want))
    out.append(("fits.fa_gumbel", bad == 0 and len(rl) == 3 * len(
        ann.index.levels[0]), f"{bad} of {len(rl)} differ"))
    # 3. SPI over the calibration period: per cell-month mean ~0, sd ~1
    spi = _read(ctx.out("spi"))
    spi["m"] = pd.to_datetime(spi["period"]).dt.month
    st = spi.groupby(["cell", "m"])["spi"].agg(["mean", "std", "count"])
    ok = (st["mean"].abs().max() < 0.2 and st["std"].between(0.8, 1.2).all()
          and st["count"].min() == ctx.years[1] - ctx.years[0] + 1)
    out.append(("fits.spi_standardized", bool(ok),
                f"max|mean| {st['mean'].abs().max():.3f}, sd "
                f"{st['std'].min():.3f}..{st['std'].max():.3f}"))
    # 4. batch FWI equals the per-cell sequential loop on a sample
    fwi = _read(ctx.out("fwi"))
    fwi["time"] = pd.to_datetime(fwi["time"])
    worst = 0.0
    for c in sorted(grid["cell"].unique())[:2]:
        g = grid[grid["cell"] == c]
        want = cffwis_1d(g["tas"].to_numpy(), g["pr"].to_numpy(),
                         g["hurs"].to_numpy(), g["sfcWind"].to_numpy(),
                         g["time"].dt.month.to_numpy(), LAT)
        mine = fwi[fwi["cell"] == c].sort_values("time")
        for k in ("ffmc", "dc", "fwi"):
            worst = max(worst, float(np.max(np.abs(
                mine[k].to_numpy() - want[k]))))
    out.append(("fits.fwi_vs_loop", worst < 1e-6, f"max diff {worst:.2e}"))
    # 5. adjusted model quantiles match the observed ones
    adj = _read(ctx.out("eqm"))
    qs = np.linspace(0.05, 0.95, 10)
    worst = 0.0
    for c, g in grid.groupby("cell"):
        a = adj.loc[adj["cell"] == c, "tas_adj"].to_numpy()
        worst = max(worst, float(np.max(np.abs(
            np.quantile(a, qs) - np.quantile(g["tas"].to_numpy(), qs)))))
    out.append(("fits.eqm_quantiles", worst < 0.3,
                f"max quantile gap {worst:.3f} degC"))
    return out


# -- curation ----------------------------------------------------------

def curation_pass(ctx) -> None:
    from pyspark.sql import functions as F

    from xclim_spark.llm import bloom as bl
    from xclim_spark.llm import dedup as dd
    from xclim_spark.llm import lm
    from xclim_spark.llm import pipeline as pl
    from xclim_spark.llm import quality_clf as qc
    from xclim_spark.llm import text as tx
    from xclim_spark.llm import tokenizer as tok

    spark = ctx.spark
    docs = spark.read.parquet(ctx.inp("docs.parquet"))
    snap = spark.read.parquet(ctx.inp("snapshot.parquet")) \
        .select(F.md5("text").alias("key"))
    nb, nh = bl.bloom_parameters(ctx.size["seen"], 0.001)
    sparse = ctx.call("llm.bloom", "bloom_build", bl.bloom_build, snap,
                      key_col="key", num_bits=nb, num_hashes=nh)
    dense = ctx.call("llm.bloom", "bloom_dense", bl.bloom_dense, sparse,
                     num_bits=nb)
    probed = ctx.call("llm.bloom", "bloom_probe", bl.bloom_probe,
                      docs.withColumn("key", F.md5("text")), dense,
                      key_col="key", num_bits=nb, num_hashes=nh)
    ctx.write("llm.bloom", "bloom_probe",
              probed.filter(~F.coalesce("maybe_member", F.lit(False)))
              .drop("key", "maybe_member"), "c1_fresh")
    d1 = spark.read.parquet(ctx.out("c1_fresh"))

    comp = ctx.call("llm.dedup", "near_dup_components",
                    dd.near_dup_components, d1, threshold=0.6,
                    num_perm=32, bands=16)
    ctx.write("llm.dedup", "near_dup_components", comp, "c2_components")
    drop = spark.read.parquet(ctx.out("c2_components")) \
        .filter(F.col("id") != F.col("component")) \
        .select(F.col("id").alias("doc_id"))
    d2 = d1.join(F.broadcast(drop), "doc_id", "left_anti")

    evalset = spark.read.parquet(ctx.inp("eval.parquet"))
    flags = ctx.call("llm.pipeline", "decontaminate", pl.decontaminate, d2,
                     evalset, n=8)
    ctx.write("llm.pipeline", "decontaminate", flags, "c3_flags")
    dirty = spark.read.parquet(ctx.out("c3_flags")) \
        .filter("contaminated").select("doc_id")
    d3 = d2.join(F.broadcast(dirty), "doc_id", "left_anti")

    keep = ctx.call("llm.text", "quality_filters", lambda: d3.filter(
        (tx.token_count("text") >= 5) & (tx.alpha_ratio("text") > 0.5)))
    ctx.write("llm.text", "quality_filters", keep, "c4_filtered")
    d4 = spark.read.parquet(ctx.out("c4_filtered"))

    uni, big, sc = ctx.call("llm.lm", "lm_train_counts", lm.lm_train_counts,
                            d4.filter(F.col("source").isin("src0", "src1")))
    scored = ctx.call("llm.lm", "lm_buckets", lambda: lm.lm_buckets(
        lm.lm_score(d4, uni, big, sc)))
    ctx.write("llm.lm", "lm_buckets", scored, "c5_ppl")

    labels = spark.read.parquet(ctx.inp("labels.parquet"))
    labeled = d4.join(labels, "doc_id")
    wts = ctx.call("llm.quality_clf", "quality_clf_train",
                   qc.quality_clf_train, labeled, label_col="label",
                   dim=256, epochs=1)
    qs = ctx.call("llm.quality_clf", "quality_clf_score",
                  qc.quality_clf_score, d4, wts)
    ctx.write("llm.quality_clf", "quality_clf_score", qs, "c6_quality")
    ppl_keep = spark.read.parquet(ctx.out("c5_ppl")) \
        .filter("ppl_bucket <= 2 OR ppl_bucket IS NULL").select("doc_id")
    # keep the better-scoring half (a score quantile, as DCLM keeps a
    # top fraction): the raw scores sit close to sigmoid(intercept)
    scores = spark.read.parquet(ctx.out("c6_quality"))
    cut = scores.agg(F.expr("percentile(quality_score, 0.5)").alias("_cut"))
    q_keep = scores.crossJoin(F.broadcast(cut)) \
        .filter("quality_score >= _cut").select("doc_id")
    d6 = d4.join(ppl_keep, "doc_id", "left_semi") \
        .join(q_keep, "doc_id", "left_semi")

    spans = ctx.call("llm.dedup", "duplicate_spans", dd.duplicate_spans, d6,
                     n=8, min_docs=2)
    ctx.write("llm.dedup", "duplicate_spans", spans, "c7_spans")
    long_spans = spark.read.parquet(ctx.out("c7_spans")) \
        .filter(F.col("span_end") - F.col("span_start") >= 15) \
        .select("doc_id").distinct()
    d7 = d6.join(F.broadcast(long_spans), "doc_id", "left_anti")

    def scrub():
        counts = tx.pii_counts(F.col("text"))
        return d7.select("doc_id", "source",
                         tx.redact_pii(F.col("text")).alias("text"),
                         sum(counts.values()).alias("n_pii"))
    clean = ctx.call("llm.text", "redact_pii", scrub)
    ctx.write("llm.text", "redact_pii", clean, "c8_clean")
    d8 = spark.read.parquet(ctx.out("c8_clean"))

    rates = {f"src{i}": 0.6 + 0.1 * i for i in range(4)}
    mix = ctx.call("llm.pipeline", "mixture_sample", pl.mixture_sample, d8,
                   rates)
    packed = ctx.call("llm.pipeline", "pack_sequences", pl.pack_sequences,
                      mix, 512)
    ctx.write("llm.pipeline", "pack_sequences", packed, "c9_packed")
    merges = ctx.call("llm.tokenizer", "bpe_train", tok.bpe_train, mix,
                      num_merges=2)
    counts = ctx.call("llm.tokenizer", "bpe_encode_counts",
                      tok.bpe_encode_counts, mix, merges)
    ctx.write("llm.tokenizer", "bpe_encode_counts", counts, "c10_tokens")


def curation_checks(ctx) -> list[tuple[str, bool, str]]:
    import re

    from xclim_spark.llm.text import PII_PATTERNS

    with open(ctx.inp("truth.json")) as f:
        truth = json.load(f)
    kind = {int(k): v for k, v in truth["kind"].items()}
    group = {int(k): v for k, v in truth["group"].items()}
    label = {int(k): v for k, v in truth["label"].items()}
    docs = pd.read_parquet(ctx.inp("docs.parquet"))
    text = dict(zip(docs["doc_id"], docs["text"]))
    out = []

    fresh = set(_read(ctx.out("c1_fresh"))["doc_id"])
    seen = {i for i, k in kind.items() if k == "seen"}
    fp = len(set(kind) - seen - fresh)
    out.append(("curation.bloom_screen", not (seen & fresh)
                and fp <= 0.01 * len(kind),
                f"{len(seen & fresh)} seen kept, {fp} false positives"))

    comp = _read(ctx.out("c2_components"))
    cmap = dict(zip(comp["id"], comp["component"]))
    survivors = {i for i in fresh if cmap.get(i, i) == i}
    members: dict[int, list[int]] = {}
    for i, g in group.items():
        members.setdefault(g, []).append(i)
    # a Bloom false positive can drop a group member before dedup (all
    # copies of a clone, or a chain's middle link): judge intact groups
    intact = [m for m in members.values() if all(i in fresh for i in m)]
    bad_groups = sum(sum(i in survivors for i in m) != 1 for m in intact)
    out.append(("curation.dedup_one_survivor", bad_groups == 0,
                f"{bad_groups} of {len(intact)} intact planted groups, "
                f"{len(members) - len(intact)} hit by the Bloom screen"))
    uniq = [i for i, k in kind.items() if k == "unique" and i in cmap]
    shared = len(uniq) - len({cmap[i] for i in uniq})
    group_of = {cmap[i] for i in group if i in cmap}
    crossed = sum(cmap[i] in group_of for i in uniq)
    out.append(("curation.dedup_unrelated_apart", shared == 0 and crossed == 0,
                f"{shared} unique docs merged, {crossed} joined a group"))

    flags = _read(ctx.out("c3_flags"))
    flagged = set(flags.loc[flags["contaminated"], "doc_id"])
    planted = {i for i in survivors if kind[i] == "contaminated"}
    extra = flagged - planted
    out.append(("curation.decontaminate", planted <= flagged and not extra,
                f"{len(planted - flagged)} missed, {len(extra)} extra"))

    after3 = survivors - flagged
    def passes(t):
        toks = t.strip().split()
        alpha = sum(ch.isascii() and ch.isalpha() for ch in t)
        return len(toks) >= 5 and alpha / len(t) > 0.5
    want = {i for i in after3 if passes(text[i])}
    got = set(_read(ctx.out("c4_filtered"))["doc_id"])
    out.append(("curation.text_filters", want == got,
                f"{len(got)} kept, python says {len(want)}"))

    # ranking accuracy (AUC) of the scores against the planted labels
    qs = _read(ctx.out("c6_quality"))
    y = qs["doc_id"].map(label).to_numpy()
    r = qs["quality_score"].rank().to_numpy()
    npos, nneg = int(y.sum()), int(len(y) - y.sum())
    auc = (r[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    out.append(("curation.quality_clf_auc", auc >= 0.95,
                f"AUC {auc:.3f} on {len(qs)} docs"))

    clean = _read(ctx.out("c8_clean"))
    leaked = redacted = planted_n = 0
    for _, r in clean.iterrows():
        pii = truth["pii"].get(str(r["doc_id"]))
        if pii:
            planted_n += 1
            leaked += sum(s in r["text"] for s in pii)
            redacted += r["n_pii"] >= 3
    want_n = sum(sum(len(re.findall(p, text[i])) for p in
                     PII_PATTERNS.values())
                 for i in clean["doc_id"])
    ok = (leaked == 0 and redacted == planted_n
          and int(clean["n_pii"].sum()) == want_n)
    out.append(("curation.pii_scrub", bool(ok),
                f"{planted_n} planted docs kept, {leaked} strings leaked, "
                f"{int(clean['n_pii'].sum())} counted vs {want_n}"))

    packed = _read(ctx.out("c9_packed"))
    toks = _read(ctx.out("c10_tokens"))
    ok = set(packed["doc_id"]) == set(toks["doc_id"]) and \
        set(packed["doc_id"]) <= set(clean["doc_id"]) and len(packed) > 0
    out.append(("curation.mixture_pack_tokens", bool(ok),
                f"{len(packed)} packed, {len(toks)} token-counted"))
    return out


# -- replay ------------------------------------------------------------

def replay_pass(ctx) -> None:
    from pyspark.sql import functions as F

    from xclim_spark.streaming import (
        streaming_cffwis,
        streaming_dedup_keys,
        streaming_spell_events,
    )

    schema = ("cell BIGINT, ts TIMESTAMP, tas DOUBLE, pr DOUBLE, "
              "hurs DOUBLE, sfcWind DOUBLE")

    def source():
        return (ctx.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(ctx.inp("replay/part_*.parquet")))

    nb = 8
    fwi = ctx.call("streaming", "streaming_cffwis", lambda: streaming_cffwis(
        source(), tas="tas", pr="pr", hurs="hurs", ws="sfcWind", lat=LAT,
        time="ts", cell="cell", season_method=None, overwintering=False,
        num_blocks=nb,
        outputs=("ffmc", "dc", "fwi")))
    ctx.stream("streaming_cffwis", fwi, "r_fwi")
    spells = ctx.call("streaming", "streaming_spell_events",
                      lambda: streaming_spell_events(
                          source(), "pr", "<", 1.0, min_length=3,
                          time="ts", cell="cell", num_blocks=nb))
    ctx.stream("streaming_spell_events", spells, "r_spells")
    firsts = ctx.call("streaming", "streaming_dedup_keys",
                      lambda: streaming_dedup_keys(
                          source().withColumn(
                              "period", F.to_date(F.date_trunc("month", "ts"))),
                          ["cell", "period"], time="ts", delay="90 days")
                      .select("cell", "period"))
    ctx.stream("streaming_dedup_keys", firsts, "r_firsts")


def replay_checks(ctx) -> list[tuple[str, bool, str]]:
    from xclim_spark.operators.fire import cffwis_1d

    out = []
    allrows = pd.read_parquet(ctx.inp("replay_all.parquet")) \
        .sort_values(["cell", "ts"])
    fwi = _read(ctx.out("r_fwi")).sort_values(["cell", "ts"])
    worst, nrow = 0.0, 0
    for c, g in allrows.groupby("cell"):
        want = cffwis_1d(g["tas"].to_numpy(), g["pr"].to_numpy(),
                         g["hurs"].to_numpy(), g["sfcWind"].to_numpy(),
                         g["ts"].dt.month.to_numpy(), LAT)
        mine = fwi[fwi["cell"] == c]
        nrow += len(mine)
        if len(mine) != len(g):
            worst = math.inf
            break
        worst = max(worst, float(np.max(np.abs(
            mine["fwi"].to_numpy() - want["fwi"]))))
    out.append(("replay.fwi_vs_batch", worst < 1e-6 and nrow == len(allrows),
                f"{nrow} rows, max diff {worst:.2e}"))
    # spell events: closed runs of pr < 1 of >= 3 days
    want = set()
    for c, g in allrows.groupby("cell"):
        hit = (g["pr"] < 1.0).to_numpy()
        ts, pr = g["ts"].to_numpy(), g["pr"].to_numpy()
        i, n = 0, len(hit)
        while i < n:
            if not hit[i]:
                i += 1
                continue
            j = i
            while j < n and hit[j]:
                j += 1
            if j - i >= 3 and j < n:  # closed before the feed ends
                want.add((int(c), pd.Timestamp(ts[i]), j - i,
                          round(float(pr[i:j].sum()), 6)))
            i = j
    ev = _read(ctx.out("r_spells"))
    got = {(int(r.cell), pd.Timestamp(r.event_start), int(r.event_length),
            round(float(r.event_sum), 6)) for r in ev.itertuples()}
    out.append(("replay.spells_vs_batch", got == want,
                f"{len(got)} events, expected {len(want)}"))
    n = duckdb.sql(
        f"SELECT count(DISTINCT (cell, date_trunc('month', ts))) FROM "
        f"read_parquet('{ctx.inp('replay_all.parquet')}')").fetchone()[0]
    firsts = _read(ctx.out("r_firsts"))
    out.append(("replay.first_sightings", len(firsts) == n
                and not firsts.duplicated().any(),
                f"{len(firsts)} keys, DuckDB distinct {n}"))
    return out


def _count(path: str) -> int:
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}')") \
        .fetchone()[0]


#: part -> (pass, checks, input records of one pass)
PARTS = {
    "indices": (indices_pass, indices_checks,
                lambda inp: _count(f"{inp}/grid/**/*.parquet")),
    "fits": (fits_pass, fits_checks,
             lambda inp: _count(f"{inp}/grid/**/*.parquet")),
    "replay": (replay_pass, replay_checks,
               lambda inp: _count(f"{inp}/replay_all.parquet")),
    "curation": (curation_pass, curation_checks,
                 lambda inp: _count(f"{inp}/docs.parquet")),
}

#: benchmark workload -> the parts one pass runs, in order
WORKLOADS = {
    "climate": ("indices", "fits", "replay"),
    "curation": ("curation",),
}
