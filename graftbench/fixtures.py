"""Seeded inputs for the two workloads, plus what the program must produce.

Everything here is a pure function of the seed: the same seed gives
byte-identical files and identical expectations.

- ``gen_tables``: the registry's scale-factor directory (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``), synthetic,
  at the row counts of the repository's sf0.001 test data.
- ``gen_trial`` / ``write_trial_csv``: one trial shaped like FIXTURES.md
  section 2 (2,684 rows, 120 Hz, 59 columns, spaces in two column names,
  NaN runs written as empty CSV cells, one spike, episodes).
- ``edit_script``: the scripted session, with the row counts, mark-bad
  counts and deletions the engine's documented semantics predict.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TRIAL_ROWS = 2684
TRIAL_HZ = 120.0

# ------------------------------------------------------------------ tables

# the test data's vocabulary; "dup" only marks near duplicates
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def gen_tables(seed, out_dir):
    """Write the registry's eight base tables plus documents/embeddings,
    at the sf0.001 row counts (6,000 lineitem rows).

    The tables are synthetic: values are i.i.d. draws from chosen
    marginals with the columns, keys and value ranges the registry
    queries were written against, not a resample of the test data.
    Documents follow the test data's measured shape: 10-99 words drawn
    uniformly from its 30-word vocabulary, and duplicates planted at its
    rates. One document in 20 is a near duplicate, another document's
    text plus " dup" (25 of 500 at sf0.001, 250 of 5,000 at sf0.1), and
    8 in 5,000 are exact copies (sf0.1), at least one. As in the test
    data, a copy's lang and source are drawn independently of its
    source's.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_line, n_ev, n_users, n_docs, n_emb = 6000, 1000, 15, 500, 500

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events: sorted microsecond timestamps over January 2024, event_id in
    # time order, per-user counts uneven like the test data's
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 10 ** 6
    ts = np.sort(t0 + rng.integers(0, span_us, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n))
             for n in rng.integers(10, 100, n_docs)]
    n_near, n_exact = n_docs // 20, max(1, round(n_docs * 8 / 5000))
    perm = rng.permutation(n_docs)
    copies, originals = perm[:n_near + n_exact], perm[n_near + n_exact:]
    for k, (dst, src) in enumerate(zip(copies, rng.choice(originals, len(copies)))):
        texts[dst] = texts[src] + (" dup" if k < n_near else "")
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[.14, .4, .15, .16, .15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ------------------------------------------------------------------ trials

SIGNALS = (
    ["gaze_heading_deg", "head_heading_deg"]
    + [f"{p}_signed_deviation" for p in ("gaze", "head", "chest", "chair")]
    + [f"{p}_span_deg" for p in ("gaze", "head", "chest", "chair", "feet")]
    + [f"bearing_{p}" for p in ("screen", "target", "door", "window", "monitor", "keyboard")]
    + [f"{p}_heading_deg{r}" for p in ("chest", "chair", "left_foot", "right_foot")
       for r in ("", "_raw")]
    + [f"coordination_angle_{p}" for p in ("gaze_head", "head_chest", "chest_chair",
                                           "feet", "gaze_chest")]
    + [f"gmm_{k}_{i}" for k in ("mean", "var", "weight") for i in range(5)]
    + ["fixation id", "duration [ms]"])
# channels carrying NaN runs (besides the two sparse ones)
NAN_CHANNELS = SIGNALS[2:8]
META_STR = ["participant_id", "condition", "trial_type"]
META_INT = ["trial_number", "session", "angle_degrees", "is_control_trial"]
EPISODE = ["episode_index", "episode_type", "episode_state"]
assert len(SIGNALS) == 47 and len(SIGNALS) + len(META_STR) + len(META_INT) + len(EPISODE) + 2 == 59


def gen_trial(rng, rows=TRIAL_ROWS):
    """One trial as a pyarrow table; NaN runs are nulls."""
    i = np.arange(rows)
    t = i / TRIAL_HZ
    cols = {"normalized_time": t,
            "LSL_timestamp": 1.7e9 + rng.uniform(0, 1e5) + t + rng.uniform(0, 2e-4, rows)}
    for name in SIGNALS:
        # smooth band-limited series: a few low-frequency sines plus noise
        f = rng.uniform(0.05, 1.5, 3)
        ph = rng.uniform(0, 2 * math.pi, 3)
        amp = rng.uniform(1, 40, 3)
        x = sum(a * np.sin(2 * math.pi * ff * t + p) for a, ff, p in zip(amp, f, ph))
        x = x + rng.normal(0, 0.5, rows) + rng.uniform(-90, 90)
        cols[name] = np.round(x, 4)
    g = cols["gaze_heading_deg"]
    g[rows // 3] = g.mean() + 8 * g.std()  # the spike above mean + 3 sigma
    fix = np.cumsum(rng.random(rows) < 0.02).astype(float)
    cols["fixation id"] = fix
    masks = {name: np.zeros(rows, bool) for name in SIGNALS}
    for name in NAN_CHANNELS:
        for _ in range(3):
            a = int(rng.integers(20, rows - 80))
            masks[name][a:a + int(rng.integers(5, 60))] = True
    masks["fixation id"] = rng.random(rows) < 0.15
    dur = masks["duration [ms]"]
    dur[:] = True
    keep = rng.choice(rows, rows // 20, replace=False)
    dur[keep] = False
    # episodes: alternating inspection/action, at least two of each
    n_ep = int(rng.integers(4, 8))
    # boundaries on a 50-row grid, so no episode is too short to carry
    # both its start and end state
    bounds = np.sort(rng.choice(np.arange(2, rows // 50 - 2), n_ep - 1, replace=False)) * 50
    ep_idx = np.searchsorted(bounds, i, side="right") + 1
    ep_type = np.where(ep_idx % 2 == 1, "inspection", "action")
    starts = np.r_[0, bounds]
    ends = np.r_[bounds, rows] - 1
    state = np.empty(rows, dtype=object)
    for k in range(n_ep):
        s, e = starts[k], ends[k]
        pre = "inspection" if k % 2 == 0 else "action"
        mid = "inspecting_screen" if k % 2 == 0 else "performing_action"
        state[s:e + 1] = mid
        state[s] = f"start_{pre}"
        state[e] = f"end_{pre}"
    out = {"normalized_time": pa.array(cols["normalized_time"]),
           "LSL_timestamp": pa.array(cols["LSL_timestamp"]),
           "participant_id": pa.array(["P13"] * rows),
           "condition": pa.array(["Stand"] * rows),
           "trial_type": pa.array(["experimental"] * rows),
           "trial_number": pa.array(np.full(rows, 1), pa.int64()),
           "session": pa.array(np.full(rows, 2), pa.int64()),
           "angle_degrees": pa.array(np.full(rows, 45), pa.int64()),
           "is_control_trial": pa.array(np.full(rows, 0), pa.int64())}
    for name in SIGNALS:
        out[name] = pa.array(cols[name], mask=masks[name])
    out["episode_index"] = pa.array(ep_idx, pa.int64())
    out["episode_type"] = pa.array(ep_type)
    out["episode_state"] = pa.array(state.tolist())
    return pa.table(out)


def check_trial_shape(tb):
    """Assert the FIXTURES.md section 2 properties the workloads rely on."""
    names = tb.column_names
    assert "fixation id" in names and "duration [ms]" in names, "spaced column names"
    assert tb.num_columns == 59, tb.num_columns
    nulls = [c for c in NAN_CHANNELS if tb.column(c).null_count > 0]
    assert len(nulls) == len(NAN_CHANNELS), "NaN runs on every interpolated channel"
    assert tb.column("duration [ms]").null_count > tb.num_rows // 2, "duration [ms] mostly empty"
    g = tb.column("gaze_heading_deg").to_numpy(zero_copy_only=False)
    assert (g > g.mean() + 3 * g.std()).sum() >= 1, "spike above mean + 3 sigma"
    st = tb.column("episode_state").to_pylist()
    for kind in ("inspection", "action"):
        assert st.count(f"start_{kind}") >= 2, f"two {kind} episodes"


def write_trial_csv(tb, path):
    # pyarrow writes nulls as empty cells and quotes the header, so the
    # spaced names and the NaN runs both survive the round trip
    pacsv.write_csv(tb, path)


# -------------------------------------------------------------- semantics

def _half_up(x):
    return np.floor(x + 0.5)


def collapse(t, a, b):
    """SeriesOps.deleteCollapse on one series: drop [a, b], re-grid the
    survivors at round(median positive gap, ms)."""
    surv = t[(t < a) | (t > b)]
    gaps = _half_up((surv[1:] - surv[:-1]) * 1e6).astype(np.int64)
    pos = gaps[gaps > 0] * 2
    dt_ms = (int(np.percentile(pos, 50)) + 1000) // 2000 if len(pos) else 1000
    return np.arange(len(surv)) * dt_ms / 1e3


# The session's edit kinds, in order: every kind recurs across the
# depth range and each redo directly follows an undo, so the script is
# valid for any seed; the seed moves where each edit lands and which
# 10 s window is rendered after it.
EDIT_KINDS = ["delete", "mark_bad", "annotate", "delete", "undo", "redo", "mark_bad",
              "delete", "annotate", "undo", "redo", "delete"]


def edit_script(seed, rows=TRIAL_ROWS):
    """Seeded edits plus the viewport after each, and the expected state.

    Deletes and mark-bads hit the current (possibly collapsed) axis.
    Returns (edits, expect)."""
    rng = np.random.default_rng([seed, 2])
    t = np.arange(rows) / TRIAL_HZ
    # state = (time axis, bad mask, deletions, annotations)
    cur = (t, np.zeros(rows, bool), 0, 0)
    undo, redo, edits = [], [], []
    for k in EDIT_KINDS:
        tt, bad, nd, na = cur
        e = {"op": k}
        if k in ("delete", "mark_bad", "annotate"):
            a = round(float(rng.uniform(0.5, float(tt[-1]) - 2.0)), 3)
            b = round(a + float(rng.uniform(0.1, 0.6)), 3)
            e.update(start=a, end=b)
            undo.append(cur)
            redo = []
            if k == "delete":
                keep = (tt < a) | (tt > b)
                cur = (collapse(tt, a, b), bad[keep], nd + 1, na)
            elif k == "mark_bad":
                cur = (tt, bad | ((tt >= a) & (tt <= b)), nd, na)
            else:
                e["label"] = f"event{len(edits)}"
                cur = (tt, bad, nd, na + 1)
        elif k == "undo":
            redo.append(cur)
            cur = undo.pop()
        else:
            undo.append(cur)
            cur = redo.pop()
        tt = cur[0]
        w0 = round(float(rng.uniform(0, max(float(tt[-1]) - 10.0, 0.0))), 3)
        e["window"] = [w0, w0 + 10.0]
        e["expect_rows"] = int(((tt >= w0) & (tt <= w0 + 10.0)).sum())
        edits.append(e)
    tt, bad, nd, na = cur
    expect = {"rows": int(len(tt)), "bad_rows": int(bad.sum()), "deletions": nd,
              "annotations": na, "collapsed": nd > 0}
    return edits, expect
