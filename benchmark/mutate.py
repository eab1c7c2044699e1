#!/usr/bin/env python3
"""Shows that every output check can fail: each corrupts one output of
the last run of a workload and expects the checks to reject it.

    python3 benchmark/run.py --workload pipeline_montreal --seed N --seconds 10
    python3 benchmark/run.py --workload registry_heavy --seed N --seconds 10
    python3 benchmark/mutate.py --seed N

Exits non-zero if a corrupted output passes its checks.
"""
import argparse
import os
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import montreal  # noqa: E402
import run  # noqa: E402


def copy(o):
    return {k: v.copy() for k, v in o.items()}


def pipeline_mutations(o, truth):
    """(name, corrupted outputs) pairs, one per pipeline check."""
    other_street = truth["street_ids"][1]

    def edit(name, fn):
        c = copy(o)
        fn(c)
        return name, c

    def swap_street(c):
        m = c["matched"]
        i = m.index[m["street_id"] != other_street][0]
        m.loc[i, "street_id"] = other_street

    def shift_distance(c):
        c["matched"]["distance_m"] += 0.5

    def wrong_split(c):
        c["train"].loc[c["train"].index[0], "date"] = c["test"]["date"].iloc[0]

    def collide(c):
        pos = c["train"][c["train"]["label"] == 1.0].iloc[[0]].copy()
        pos["label"] = 0.0
        c["train"] = pd.concat([c["train"], pos], ignore_index=True)

    def drop_positive(c):
        t = c["test"]
        c["test"] = t.drop(t.index[t["label"] == 1.0][0])

    def bump_count(c):
        c["train"].loc[c["train"].index[0], "accident_count"] += 1

    def bump_fp(c):
        c["curve"].loc[c["curve"].index[3], "fp"] += 1

    def move_fn(c):
        i = c["curve"].index[3]
        c["curve"].loc[i, "fn"] += 1
        c["curve"].loc[i, "tn"] -= 1

    def recall_up(c):
        cv = c["curve"].sort_values("threshold")
        lo, hi = cv.index[2], cv.index[12]
        for col in ("tp", "fn"):
            a, b = cv.loc[lo, col], cv.loc[hi, col]
            c["curve"].loc[lo, col], c["curve"].loc[hi, col] = b, a

    def drop_threshold(c):
        c["curve"] = c["curve"].iloc[1:]

    def auc_range(c):
        c["results"].loc[c["results"].index[0], "value"] = 1.2

    def auroc_floor(c):
        r = c["results"]
        r.loc[(r["split"] == "test") & (r["metric"] == "areaUnderROC"), "value"] = 0.5

    def move_point(c):
        c["road_points"].loc[c["road_points"].index[0], "coord_lat"] += 0.001

    def stretch(c):
        c["road_features"].loc[c["road_features"].index[0], "street_length"] += 2.0

    def drop_accident(c):
        c["accidents"] = c["accidents"].iloc[1:]

    return [
        edit("road point moved", move_point),
        edit("street length +2 m", stretch),
        edit("valid accident dropped", drop_accident),
        edit("accident on a swapped street", swap_street),
        edit("match distance +0.5 m", shift_distance),
        edit("train row after the split date", wrong_split),
        edit("positive key also negative", collide),
        edit("test positive dropped", drop_positive),
        edit("accident_count +1", bump_count),
        edit("fp +1 at one threshold", bump_fp),
        edit("fn +1, tn -1 at one threshold", move_fn),
        edit("recall rising with threshold", recall_up),
        edit("threshold row missing", drop_threshold),
        edit("AUC value 1.2", auc_range),
        edit("test AUROC 0.5", auroc_floor),
    ]


def one_value_changed(df):
    d = df.copy()
    for col in d.columns:
        v = d[col].iloc[0]
        if isinstance(v, bool):
            d.loc[d.index[0], col] = not v
        elif isinstance(v, (int, float)) or hasattr(v, "dtype"):
            try:
                d.loc[d.index[0], col] = v + 1
            except TypeError:
                continue
        elif isinstance(v, str):
            d.loc[d.index[0], col] = v + "x"
        else:
            continue
        return d
    return d.iloc[1:]


def tvs_mutations(df):
    out = []
    for name, col, val in [("best params outside the grid", "best_num_trees", 7),
                           ("validation AUPRC 1.5", "val_auprc", 1.5),
                           ("grid point changed", "max_depth", 4)]:
        d = df.copy()
        d[col] = d[col].astype(type(val)) if col == "val_auprc" else d[col]
        d.loc[d.index[0], col] = val
        out.append((name, d))
    # chosen point that is not the best one
    d = df.copy()
    worst = d.loc[d["val_auprc"].idxmin()]
    d["best_num_trees"], d["best_max_depth"] = worst["num_trees"], worst["max_depth"]
    if d["val_auprc"].nunique() > 1:
        out.append(("chosen params not the best", d))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True,
                    help="the seed of the last pipeline_montreal run")
    a = ap.parse_args()
    failures = 0

    def expect_rejected(name, fails):
        nonlocal failures
        ok = bool(fails)
        failures += not ok
        print(f"{'rejected' if ok else 'ACCEPTED'}  {name}" + (f"  ({fails[0]})" if ok else ""))

    p = run.PIPELINE
    out = os.path.join(run.WORK, "runs", "pipeline_montreal", "out", "pipeline")
    gen = os.path.join(run.WORK, "mutate")
    shutil.rmtree(gen, ignore_errors=True)
    truth = montreal.generate(a.seed, gen, p["streets"], p["accidents"], p["years"])
    shutil.rmtree(gen, ignore_errors=True)
    o = checks.pipeline_outputs(out)
    base = checks.check_pipeline(o, truth, p["split"], a.seed)
    print(f"pipeline outputs as written: {'pass' if not base else base}")
    failures += bool(base)
    for name, c in pipeline_mutations(o, truth):
        expect_rejected(f"pipeline: {name}", checks.check_pipeline(c, truth, p["split"], a.seed))

    for wl, queries in run.REGISTRY.items():
        oracle, _ = run.oracle_results(queries)
        reg = os.path.join(run.WORK, "runs", wl, "out", "registry")
        base = checks.check_registry(reg, queries, oracle)
        print(f"{wl} outputs as written: {'pass' if not base else base}")
        failures += bool(base)
        for q in queries:
            got = checks.read_parquet(os.path.join(reg, q))
            if callable(oracle[q]):
                for name, d in tvs_mutations(got):
                    expect_rejected(f"{q}: {name}", oracle[q](d))
            else:
                msg = checks.frames_equal(one_value_changed(got), oracle[q])
                expect_rejected(f"{q}: one value changed", [msg] if msg else [])
    print(f"{failures} corrupted outputs accepted" if failures else "every corruption rejected")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
