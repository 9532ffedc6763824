"""Independent references the benchmark checks the program's outputs against.

They share no code with `kgc.operators`: SIMILAR_TO is a NumPy binary cosine
over the touch matrix, RECOMMEND and the attribution models are pandas
re-derivations of the pinned semantics (k=10 neighbours by similarity DESC,
id ASC; m=5 products by score DESC, id ASC; scores as exact sums of
similarities rounded half-up to 9 decimals). Inputs are pandas frames
collected from the generated ground-truth triples.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

K_NEIGHBORS = 10
M_PRODUCTS = 5
_NANO = Decimal("1e-9")


def _nanos(x: float) -> int:
    """round(x, 9) half-up on the shortest decimal form of `x`, in units of
    1e-9 — the rounding Spark's round(double, 9) applies."""
    return int(Decimal(repr(float(x))).quantize(_NANO, rounding=ROUND_HALF_UP).scaleb(9))


def _round9(x: float) -> float:
    return _nanos(x) / 1e9


def touch_items(triples: pd.DataFrame) -> pd.DataFrame:
    t = triples[triples["pred"] == "TOUCHED"]
    return pd.DataFrame(
        {"individual": t["subj"].to_numpy(), "act": t["obj"].str.slice(4).astype(int).to_numpy()}
    ).drop_duplicates()


def similar_to(items: pd.DataFrame) -> pd.DataFrame:
    """All co-touching pairs (ind_a < ind_b) with |A∩B| / sqrt(|A|·|B|)."""
    inds = np.array(sorted(items["individual"].unique()))
    row = np.searchsorted(inds, items["individual"].to_numpy())
    m = np.zeros((len(inds), int(items["act"].max()) + 1), dtype=np.float64)
    m[row, items["act"].to_numpy()] = 1.0
    inter = m @ m.T  # small integers: exact in float64
    deg = m.sum(axis=1)
    a, b = np.triu_indices(len(inds), k=1)
    keep = inter[a, b] > 0
    a, b = a[keep], b[keep]
    sim = inter[a, b] / np.sqrt(deg[a] * deg[b])
    return pd.DataFrame({"ind_a": inds[a], "ind_b": inds[b], "similarity": sim})


def recommend(sim: pd.DataFrame, triples: pd.DataFrame) -> pd.DataFrame:
    both = pd.concat(
        [
            sim.rename(columns={"ind_a": "individual", "ind_b": "neighbor"}),
            sim.rename(columns={"ind_b": "individual", "ind_a": "neighbor"}),
        ],
        ignore_index=True,
    )
    both = both.sort_values(["individual", "similarity", "neighbor"], ascending=[True, False, True])
    top = both.groupby("individual", sort=False).head(K_NEIGHBORS).copy()
    top["nanos"] = [_nanos(x) for x in top["similarity"].to_numpy()]
    p = triples[triples["pred"] == "PURCHASED"]
    owned = pd.DataFrame({"individual": p["subj"], "product": p["obj"]}).drop_duplicates()
    cands = top.merge(owned.rename(columns={"individual": "neighbor"}), on="neighbor")
    cands = cands.merge(owned.assign(_own=True), on=["individual", "product"], how="left")
    cands = cands[cands["_own"].isna()]
    scored = cands.groupby(["individual", "product"], as_index=False)["nanos"].sum()
    scored["score"] = scored["nanos"].to_numpy() / 1e9
    scored = scored.sort_values(["individual", "score", "product"], ascending=[True, False, True])
    scored["rank"] = scored.groupby("individual").cumcount() + 1
    out = scored[scored["rank"] <= M_PRODUCTS]
    return out[["individual", "product", "score", "rank"]].reset_index(drop=True)


def attribution(triples: pd.DataFrame) -> pd.DataFrame:
    """firstTouch / lastTouch / linear / timeDecay rows per converted
    (individual, campaign) over touches at or before the earliest conversion."""
    t = triples[(triples["pred"] == "TOUCHED") & triples["ts"].notna()]
    touches = pd.DataFrame(
        {"individual": t["subj"], "activity": t["obj"], "ts": t["ts"]}
    ).drop_duplicates()
    touches["campaign"] = "cmp-" + (touches["activity"].str.slice(4).astype(int) // 10).map("{:02d}".format)
    c = triples[triples["pred"] == "CONVERTED_BY"]
    conv = (
        pd.DataFrame({"individual": c["subj"], "campaign": c["obj"], "conv_ts": c["ts"]})
        .groupby(["individual", "campaign"], as_index=False)["conv_ts"].min()
    )
    q = touches.merge(conv, on=["individual", "campaign"])
    q = q[q["ts"] <= q["conv_ts"]].sort_values(["individual", "campaign", "ts", "activity"])
    g = q.groupby(["individual", "campaign"], sort=False)
    cols = ["individual", "campaign", "activity", "ts"]
    first = g.head(1)[cols].assign(model="firstTouch", weight=1.0)
    last = g.tail(1)[cols].assign(model="lastTouch", weight=1.0)
    n = g["activity"].transform("size").to_numpy()
    linear = q[cols].assign(model="linear", weight=1.0 / n)
    days = np.floor((q["conv_ts"] - q["ts"]).dt.total_seconds().to_numpy() / 86400)
    d_nanos = np.array([_nanos(1.0 / (1.0 + x)) for x in days], dtype=np.int64)
    den = pd.Series(d_nanos, index=q.index).groupby(
        [q["individual"], q["campaign"]]
    ).transform("sum").to_numpy() / 1e9
    decay = [_round9(x) for x in (d_nanos / 1e9) / den]
    time_decay = q[cols].assign(model="timeDecay", weight=decay)
    return pd.concat([first, last, linear, time_decay], ignore_index=True)


def diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when the two frames hold the same rows (all columns exact),
    else a one-line description of the first difference."""
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)} != {sorted(cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows, reference has {len(want)}"
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    for col in cols:
        gc, wc = g[col].to_numpy(), w[col].to_numpy()
        bad = np.flatnonzero(gc != wc)
        if len(bad):
            i = bad[0]
            return f"{len(bad)} rows differ in {col}; first at {w.loc[i, keys].to_dict()}: {gc[i]!r} != {wc[i]!r}"
    return None
