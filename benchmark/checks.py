"""Checks of the program's outputs against computations made apart from it.

Every check returns a list of failure messages; an empty list means the
outputs passed. The pipeline is checked against the generator's ground
truth (montreal.py); registry queries against their DuckDB oracle
results, or, where no oracle can replay the method, against properties
the method must have.
"""
import datetime
import glob
import os

import duckdb
import numpy as np
import pandas as pd

from montreal import haversine_m

AUROC_FLOOR = 0.65
NN_SAMPLE = 300


def read_parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def read_csv(path):
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    if not files:
        raise FileNotFoundError(f"no csv files under {path}")
    return pd.concat([pd.read_csv(f) for f in files], ignore_index=True)


# ------------------------------------------------------------------ pipeline

def pipeline_outputs(out):
    st = os.path.join(out, "stages")
    return {
        "road_points": read_parquet(os.path.join(st, "road_points")),
        "road_features": read_parquet(os.path.join(st, "road_features")),
        "accidents": read_parquet(os.path.join(st, "accidents")),
        "matched": read_parquet(os.path.join(st, "matched")),
        "train": read_parquet(os.path.join(st, "train")),
        "test": read_parquet(os.path.join(st, "test")),
        "curve": read_csv(os.path.join(out, "export", "curve")),
        "results": read_csv(os.path.join(out, "export", "results")),
    }


def check_pipeline(o, truth, split_date, seed):
    fails = []
    sid = truth["street_ids"]
    n_streets = len(sid)

    # road points: every generated point of every street, under its street id
    want = set()
    for i in range(n_streets):
        for k in range(5):
            want.add((sid[i], round(truth["pts_lat"][i, k], 6), round(truth["pts_lon"][i, k], 6)))
    rp = o["road_points"]
    got = set(zip(rp["street_id"], rp["coord_lat"].round(6), rp["coord_long"].round(6)))
    if got != want or len(rp) != len(want):
        fails.append(f"road_points: {len(rp)} rows, {len(got ^ want)} differ from the generated points")

    # street lengths: the generated span, within 1 m
    rf = o["road_features"].set_index("street_id")
    if len(rf) != n_streets or set(rf.index) != set(sid):
        fails.append(f"road_features: {len(rf)} streets, expected {n_streets}")
    else:
        err = np.abs(rf.loc[sid, "street_length"].to_numpy() - truth["lengths"])
        if err.max() > 1.0:
            fails.append(f"road_features: street_length off by up to {err.max():.3f} m")

    # preprocessing drops exactly the injected invalid rows
    acc = o["accidents"]
    valid = set(truth["acc_ids"])
    kept = set(acc["NO_SEQ_COLL"])
    if kept != valid or len(acc) != len(valid):
        fails.append(f"accidents: kept {len(acc)} rows, expected the {len(valid)} valid ones "
                     f"({truth['n_invalid']} injected invalid)")

    # each accident matches the street it was placed on
    m = o["matched"].merge(acc[["accident_id", "NO_SEQ_COLL"]], on="accident_id", how="left")
    placed = pd.Series(sid[truth["acc_street"]], index=truth["acc_ids"])
    wrong = (m["street_id"].to_numpy() != placed.reindex(m["NO_SEQ_COLL"]).to_numpy()).sum()
    if len(m) != len(valid) or m["accident_id"].nunique() != len(m) or wrong:
        fails.append(f"matched: {len(m)} rows, {wrong} on another street than generated")

    # brute-force haversine nearest point on a seeded sample
    rng = np.random.default_rng(seed + 1)
    sample = m.iloc[rng.choice(len(m), size=min(NN_SAMPLE, len(m)), replace=False)] if len(m) else m
    all_lat, all_lon = truth["pts_lat"].ravel(), truth["pts_lon"].ravel()
    owner = np.repeat(np.arange(n_streets), 5)
    a = acc.set_index("accident_id").loc[sample["accident_id"]]
    bad_nn = 0
    for (lat, lon), street, dist in zip(a[["loc_lat", "loc_long"]].to_numpy(),
                                        sample["street_id"], sample["distance_m"]):
        d = haversine_m(lat, lon, all_lat, all_lon)
        j = int(np.argmin(d))
        if sid[owner[j]] != street or abs(d[j] - dist) > 0.01:
            bad_nn += 1
    if bad_nn:
        fails.append(f"matched: {bad_nn}/{len(sample)} sampled accidents disagree with brute-force nearest")

    # dataset: split, label disjointness, train-period accident counts
    tr, te = o["train"], o["test"]
    split = datetime.date.fromisoformat(split_date)
    ds = pd.concat([tr, te], ignore_index=True)
    if (pd.to_datetime(tr["date"]).dt.date >= split).any() or (pd.to_datetime(te["date"]).dt.date < split).any():
        fails.append("dataset: a row sits on the wrong side of the split date")
    key = ["street_id", "date", "hour"]
    pos_keys = ds[ds["label"] == 1.0][key].drop_duplicates()
    neg_keys = ds[ds["label"] == 0.0][key].drop_duplicates()
    both = len(pos_keys.merge(neg_keys, on=key))
    if both:
        fails.append(f"dataset: {both} (street, date, hour) keys are both positive and negative")
    if (ds["label"] == 1.0).sum() != len(valid):
        fails.append(f"dataset: {(ds['label'] == 1.0).sum()} positives, expected {len(valid)}")
    in_train = truth["acc_date"] < np.datetime64(split_date)
    tally = pd.Series(sid[truth["acc_street"][in_train]]).value_counts()
    got_cnt = ds.groupby("street_id")["accident_count"].agg(["min", "max"])
    want_cnt = tally.reindex(got_cnt.index).fillna(0).astype(int)
    off = ((got_cnt["min"] != want_cnt) | (got_cnt["max"] != want_cnt)).sum()
    if off:
        fails.append(f"dataset: accident_count differs from the generated tally on {off} streets")

    # threshold curve: a full confusion matrix at every threshold
    c = o["curve"].sort_values("threshold")
    n_test, n_pos = len(te), int((te["label"] == 1.0).sum())
    if len(c) != 20:
        fails.append(f"curve: {len(c)} thresholds, expected 20")
    if ((c["tp"] + c["fp"] + c["tn"] + c["fn"]) != n_test).any():
        fails.append(f"curve: tp+fp+tn+fn differs from the {n_test} test rows")
    if ((c["tp"] + c["fn"]) != n_pos).any():
        fails.append(f"curve: tp+fn differs from the {n_pos} test positives")
    recall = (c["tp"] / n_pos).to_numpy() if n_pos else np.zeros(len(c))
    if (np.diff(recall) > 0).any():
        fails.append("curve: recall rises with the threshold")

    r = o["results"]
    vals = r["value"].to_numpy()
    if len(r) != 4 or ((vals < 0) | (vals > 1)).any():
        fails.append("results: expected four AUC values in [0, 1]")
    auroc = r[(r["split"] == "test") & (r["metric"] == "areaUnderROC")]["value"]
    if len(auroc) != 1 or not auroc.iloc[0] > AUROC_FLOOR:
        fails.append(f"results: test AUROC {auroc.tolist()} not above {AUROC_FLOOR}")
    return fails


def test_auprc(results):
    v = results[(results["split"] == "test") & (results["metric"] == "areaUnderPR")]["value"]
    return float(v.iloc[0])


# ------------------------------------------------------------------ registry

def frames_equal(spark_df, oracle_df):
    """Exact comparison after sorting columns by name and rows by value,
    the driver's oracle gate rule. Returns a failure message or None."""
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return f"columns {sc} != oracle {oc}"
    if len(spark_df) != len(oracle_df):
        return f"{len(spark_df)} rows != oracle {len(oracle_df)}"
    if len(spark_df) == 0:
        return "zero rows on both sides"
    a = spark_df[sc].sort_values(by=sc).reset_index(drop=True)
    b = oracle_df[sc].sort_values(by=sc).reset_index(drop=True)
    for col in sc:
        x, y = a[col], b[col]
        try:
            eq = (x == y) | (x.isna() & y.isna())
        except Exception:
            eq = x.astype(str) == y.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {col} row {i}: {x[i]!r} != oracle {y[i]!r} ({int((~eq).sum())} diffs)"
    return None


def check_tvs(df):
    grid = {(5, 3), (5, 5), (10, 3), (10, 5)}
    fails = []
    if set(zip(df["num_trees"], df["max_depth"])) != grid or len(df) != 4:
        fails.append("grid points are not the 2x2 numTrees x maxDepth grid")
    if ((df["val_auprc"] < 0) | (df["val_auprc"] > 1)).any():
        fails.append("a validation AUPRC lies outside [0, 1]")
    best = set(zip(df["best_num_trees"], df["best_max_depth"]))
    if len(best) != 1 or not best <= grid:
        fails.append(f"chosen params {best} are not one member of the grid")
    else:
        (bt, bd), = best
        top = df["val_auprc"].max()
        chosen = df[(df["num_trees"] == bt) & (df["max_depth"] == bd)]["val_auprc"]
        if len(chosen) != 1 or chosen.iloc[0] != top:
            fails.append("chosen params do not have the best validation AUPRC")
    return fails


def check_registry(out, queries, oracle_results):
    """`oracle_results[name]` is a DataFrame, or a callable property check."""
    fails = []
    for name in queries:
        try:
            got = read_parquet(os.path.join(out, name))
            want = oracle_results[name]
            if callable(want):
                fails += [f"{name}: {m}" for m in want(got)]
            else:
                msg = frames_equal(got, want)
                if msg:
                    fails.append(f"{name}: {msg}")
        except Exception as e:  # an unreadable output is a failed check
            fails.append(f"{name}: {type(e).__name__}: {e}")
    return fails


PROPERTY_CHECKS = {"q_ml_tvs_best": check_tvs}


def tvs_best_auprc(df):
    return float(df["val_auprc"].max())
