"""Seeded inputs and pandas/numpy replays for the load-path benchmark.

Run as a program, in its own process and before any Spark session:

    python3 loadbench/gen.py --workload bulk_load --seed 7 --out DIR

It writes the workload's inputs under ``DIR/input``, the replayed
expected outputs under ``DIR/expected`` and the input properties (sizes,
shares, content hash) to ``DIR/properties.json``. Only numpy, pandas and
pyarrow are used, and the same seed gives byte-identical files.

The replays are independent re-statements of each operator's semantics
(contract -> keep-last dedup -> late split; MERGE upsert; the integer
PageRank and Bradley-Terry recurrences; union-find components; the
weekly cohort table). The benchmark compares every op's output with them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes -----------------------------------------------------------------
# Small on purpose: at this size an op is dominated by per-job overhead,
# and a run fits its time budget (README.md, "Sizing").
BULK_ROWS = 100_000
BULK_FILES = 4
CDC_TABLE_ROWS = 50_000
CDC_BATCH_ROWS = 5_000
CDC_EPOCHS = 2
PR_NODES, PR_EDGES = 20_000, 80_000
CC_NODES, CC_EDGES, CC_CHAIN = 20_000, 500, 1
BT_PLAYERS, BT_DUELS = 1_000, 40_000
COHORT_USERS, COHORT_EVENTS, COHORT_WEEKS = 10_000, 60_000, 10

DUP_SHARE = 0.20        # bulk rows whose key repeats an earlier key
LATE_SHARE = 0.02       # rows at or below the watermark
VIOLATION_SHARE = 0.01  # rows breaking one of the three contract rules
CDC_UPDATE_SHARE = 0.7  # change rows that hit an existing key
CDC_DUP_SHARE = 0.10    # change rows repeating a key of the same file
PAYLOAD_BYTES = 24      # -> 48 hex characters per row

WATERMARK = 1_700_000_000  # bulk_load's fixed watermark; cdc_merge's start
CDC_SPAN = 3_600           # event-time span of one change file
CDC_DELAY = 60             # watermark delay in event-time units
CATEGORIES = ["a", "b", "c", "d", "e", "f"]
RANGE_MIN, RANGE_MAX = 0.0, 1_000_000.0
PAYLOAD_PATTERN = "^[0-9a-f]+$"
PR_ITERATIONS, PR_DAMPING, PR_SCALE = 1, 85, 1_000_000
BT_ITERATIONS, BT_MICRO = 1, 1_000_000
COHORT_MAX_OFFSET = 8
COHORT_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, a Monday

ROW_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("seq", pa.int64()),
        ("ev", pa.int64()),
        ("amount", pa.float64()),
        ("cat", pa.string()),
        ("payload", pa.string()),
    ]
)


# -- row generation ----------------------------------------------------------

def _hex_payloads(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, PAYLOAD_BYTES), dtype=np.uint8)
    digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    chars = np.empty((n, PAYLOAD_BYTES * 2), dtype=np.uint8)
    chars[:, 0::2] = digits[raw >> 4]
    chars[:, 1::2] = digits[raw & 15]
    return chars.view(f"S{PAYLOAD_BYTES * 2}").ravel().astype(str)


def _rows(rng, ids, seq, ev, violations: bool) -> pd.DataFrame:
    """Rows with an amount, a category and a wide random payload; with
    ``violations``, about VIOLATION_SHARE of them break one rule each."""
    n = len(ids)
    amount = np.round(rng.uniform(1.0, 50_000.0, n), 2)
    cat = np.array(CATEGORIES, dtype=object)[rng.integers(0, len(CATEGORIES), n)]
    payload = _hex_payloads(rng, n).astype(object)
    if violations:
        bad = np.flatnonzero(rng.random(n) < VIOLATION_SHARE)
        kind = rng.integers(0, 4, len(bad))
        amount[bad[kind == 0]] *= -1.0                      # range(amount)
        cat[bad[kind == 1]] = None                          # domain(cat), null
        cat[bad[kind == 2]] = "zz"                          # domain(cat), unknown
        for i in bad[kind == 3]:                            # regex(payload)
            payload[i] = payload[i][:-1] + "z"
    return pd.DataFrame(
        {"id": ids, "seq": seq, "ev": ev, "amount": amount, "cat": cat, "payload": payload}
    )


def _write_parquet(df: pd.DataFrame, path: Path, schema: pa.Schema | None = None) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _write_split(df: pd.DataFrame, directory: Path, files: int, schema=None) -> None:
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        _write_parquet(df.iloc[part], directory / f"part-{i:03d}.parquet", schema)


# -- replays -----------------------------------------------------------------

def contract_pass(df: pd.DataFrame) -> np.ndarray:
    """The three rules: range(amount), domain(cat), regex(payload)."""
    ok_amount = df["amount"].between(RANGE_MIN, RANGE_MAX)
    ok_cat = df["cat"].isin(CATEGORIES)
    ok_payload = df["payload"].str.fullmatch(PAYLOAD_PATTERN[1:-1]).fillna(False).astype(bool)
    return (ok_amount & ok_cat & ok_payload).to_numpy()


def keep_last(df: pd.DataFrame) -> pd.DataFrame:
    """Keep-last dedup on ``id`` under ascending ``seq``."""
    return df.sort_values("seq").drop_duplicates("id", keep="last")


def replay_bulk(rows: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    admitted = rows[contract_pass(rows)]
    deduped = keep_last(admitted)
    late = deduped["ev"] <= WATERMARK
    dest = deduped[~late].sort_values("id").reset_index(drop=True)
    facts = {
        "rows_violating": int(len(rows) - len(admitted)),
        "rows_late": int(late.sum()),
        "rows_quarantined": int(len(rows) - len(admitted) + late.sum()),
        "rows_admitted": int(len(dest)),
        "checkpoint_seq": int(dest["seq"].max()),
    }
    return dest, facts


def replay_cdc(table: pd.DataFrame, batches: list[pd.DataFrame]) -> tuple[pd.DataFrame, list[dict]]:
    """Epoch by epoch: contract, keep-last dedup, late quarantine against
    the stored watermark, watermark advance, then MERGE upsert on id."""
    wm = WATERMARK
    epochs = []
    for batch in batches:
        passed = batch[contract_pass(batch)]
        admitted = keep_last(passed)
        late = admitted["ev"] <= wm
        staged = admitted[~late]
        wm = max(wm, int(batch["ev"].max()) - CDC_DELAY)
        table = pd.concat([table[~table["id"].isin(staged["id"])], staged])
        epochs.append(
            {
                "rows_admitted": int(len(staged)),
                "rows_late": int(late.sum()),
                "rows_quarantined": int(len(batch) - len(passed) + late.sum()),
                "watermark_after": wm,
            }
        )
    return table.sort_values("id").reset_index(drop=True), epochs


def pagerank_replay(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    """The operator's integer recurrence (graph.pagerank docstring)."""
    nodes = np.unique(np.concatenate([src, dst]))
    s_idx, d_idx = np.searchsorted(nodes, src), np.searchsorted(nodes, dst)
    n = len(nodes)
    deg = np.bincount(s_idx, minlength=n).astype(np.int64)
    dangling = deg == 0
    teleport = ((100 - PR_DAMPING) * PR_SCALE) // 100
    s = np.full(n, PR_SCALE, dtype=np.int64)
    for _ in range(PR_ITERATIONS):
        dang = int(s[dangling].sum())
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, d_idx, s[s_idx] // deg[s_idx])
        s = teleport + (PR_DAMPING * (contrib + dang // n)) // 100
    return pd.DataFrame({"id": nodes, "score_unat": s})


def components_replay(src: np.ndarray, dst: np.ndarray) -> tuple[pd.DataFrame, int]:
    """Union-find labels (component = min node id) and the number of
    min-label propagation rounds, the last one changing nothing."""
    nodes = np.unique(np.concatenate([src, dst]))
    parent = {int(v): int(v) for v in nodes}

    def find(v: int) -> int:
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:
            parent[v], v = root, parent[v]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = np.array([find(int(v)) for v in nodes], dtype=np.int64)
    # rounds of the operator's loop: propagate until a round changes nothing
    a_idx = np.searchsorted(nodes, np.concatenate([src, dst]))
    b_idx = np.searchsorted(nodes, np.concatenate([dst, src]))
    labels, rounds = nodes.astype(np.int64).copy(), 0
    while True:
        rounds += 1
        nxt = labels.copy()
        np.minimum.at(nxt, b_idx, labels[a_idx])
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    if not np.array_equal(labels, comp):
        raise AssertionError("label propagation and union-find disagree")
    return pd.DataFrame({"id": nodes, "component": comp}), rounds


def bradley_terry_replay(i: np.ndarray, j: np.ndarray, win: np.ndarray) -> pd.DataFrame:
    """The operator's integer MM recurrence (preference.py)."""
    pair_i = np.concatenate([i, j])
    pair_j = np.concatenate([j, i])
    pair_w = np.concatenate([win, 1 - win]).astype(np.int64)
    players = np.unique(pair_i)
    n_players = len(players)
    pairs = pd.DataFrame({"i": pair_i, "j": pair_j, "w": pair_w})
    nij = pairs.groupby(["i", "j"], sort=True).agg(n=("w", "size"), wij=("w", "sum")).reset_index()
    wins = nij.groupby("i")["wij"].sum().reindex(players).to_numpy(np.int64)
    pi_idx = np.searchsorted(players, nij["i"].to_numpy())
    pj_idx = np.searchsorted(players, nij["j"].to_numpy())
    n = nij["n"].to_numpy(np.int64)
    p = np.full(n_players, BT_MICRO, dtype=np.int64)
    for _ in range(BT_ITERATIONS):
        t = (n * 1_000_000_000_000) // np.maximum(p[pi_idx] + p[pj_idx], 1)
        d = np.zeros(n_players, dtype=np.int64)
        np.add.at(d, pi_idx, t)
        praw = (wins * 1_000_000_000_000) // np.maximum(d, 1)
        tot = int(praw.sum())
        p = np.array([(int(x) * n_players * BT_MICRO) // tot for x in praw], dtype=np.int64)
    return pd.DataFrame({"id": players, "strength_unat": p})


def cohort_replay(user: np.ndarray, ts_s: np.ndarray) -> pd.DataFrame:
    """Monday-based weekly cohorts: active users per (cohort week, offset)."""
    day = ts_s // 86_400
    week = day - (day + 3) % 7  # 1970-01-01 was a Thursday
    active = pd.DataFrame({"u": user, "w": week}).drop_duplicates()
    active["cw"] = active.groupby("u")["w"].transform("min")
    active["week_offset"] = ((active["w"] - active["cw"]) // 7).astype(np.int32)
    active = active[active["week_offset"] <= COHORT_MAX_OFFSET]
    out = active.groupby(["cw", "week_offset"]).size().reset_index(name="n_users")
    out["cohort_week"] = pd.to_datetime(out["cw"], unit="D").dt.date
    return out[["cohort_week", "week_offset", "n_users"]].sort_values(
        ["cohort_week", "week_offset"]
    ).reset_index(drop=True)


# -- workloads ---------------------------------------------------------------

def gen_bulk(rng, out: Path) -> dict:
    n = BULK_ROWS
    n_keys = n - int(n * DUP_SHARE)
    ids = rng.permutation(
        np.concatenate([np.arange(n_keys), rng.integers(0, n_keys, n - n_keys)])
    ).astype(np.int64) + 1_000_000
    seq = rng.permutation(n).astype(np.int64) + 1
    ev = WATERMARK + rng.integers(1, 30 * 86_400, n)
    late = rng.random(n) < LATE_SHARE
    ev[late] = WATERMARK - rng.integers(0, 86_400, int(late.sum()))
    rows = _rows(rng, ids, seq, ev.astype(np.int64), violations=True)
    _write_split(rows, out / "input" / "rows", BULK_FILES, ROW_SCHEMA)
    dest, facts = replay_bulk(rows)
    _write_parquet(dest, out / "expected" / "dest.parquet", ROW_SCHEMA)
    (out / "expected" / "facts.json").write_text(json.dumps(facts))
    return {
        "rows": n,
        "files": BULK_FILES,
        "duplicate_share": round(1 - rows["id"].nunique() / n, 4),
        "late_share": round(float(late.mean()), 4),
        "violation_share": round(1 - contract_pass(rows).mean(), 4),
        **facts,
    }


def gen_cdc(rng, out: Path) -> dict:
    m, b, k = CDC_TABLE_ROWS, CDC_BATCH_ROWS, CDC_EPOCHS
    table = _rows(
        rng,
        np.arange(m, dtype=np.int64),
        np.arange(1, m + 1, dtype=np.int64),
        WATERMARK - rng.integers(1, 30 * 86_400, m),
        violations=False,
    )
    _write_split(table, out / "input" / "snapshot", 4, ROW_SCHEMA)
    batches, wm, next_id = [], WATERMARK, m
    for f in range(k):
        n_upd = int(b * CDC_UPDATE_SHARE)
        n_dup = int(b * CDC_DUP_SHARE)
        n_new = b - n_upd - n_dup
        base = np.concatenate(
            [rng.choice(m, n_upd, replace=False), np.arange(next_id, next_id + n_new)]
        )
        next_id += n_new
        ids = rng.permutation(np.concatenate([base, rng.choice(base, n_dup)])).astype(np.int64)
        seq = (m + 1 + f * b + rng.permutation(b)).astype(np.int64)
        ev = WATERMARK + f * CDC_SPAN + rng.integers(1, CDC_SPAN + 1, b)
        late = rng.random(b) < LATE_SHARE
        ev[late] = wm - rng.integers(0, CDC_SPAN, int(late.sum()))
        batch = _rows(rng, ids, seq, ev.astype(np.int64), violations=True)
        _write_parquet(batch, out / "input" / "changes" / f"change-{f:03d}.parquet", ROW_SCHEMA)
        batches.append(batch)
        wm = max(wm, int(batch["ev"].max()) - CDC_DELAY)
    final, epochs = replay_cdc(table, batches)
    _write_parquet(final, out / "expected" / "table.parquet", ROW_SCHEMA)
    (out / "expected" / "epochs.json").write_text(json.dumps(epochs))
    rows = pd.concat(batches)
    return {
        "table_rows": m,
        "batch_rows": b,
        "epochs": k,
        "table_to_batch": m // b,
        "rows": b * k,
        "duplicate_share": round(float(np.mean([1 - x["id"].nunique() / len(x) for x in batches])), 4),
        "late_share": round(sum(e["rows_late"] for e in epochs) / (b * k), 4),
        "violation_share": round(1 - contract_pass(rows).mean(), 4),
        "final_table_rows": int(len(final)),
    }


def gen_iterative(rng, out: Path) -> dict:
    inp, exp = out / "input", out / "expected"
    # PageRank: power-law in-degree, uniform sources, simple graph
    src = rng.integers(0, PR_NODES, PR_EDGES)
    dst = (PR_NODES * rng.random(PR_EDGES) ** 3).astype(np.int64)
    keep = src != dst
    pr_edges = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    pr = pd.DataFrame({"src": pr_edges[:, 0], "dst": pr_edges[:, 1]}).astype(np.int64)
    _write_split(pr, inp / "pr_edges", 4)
    _write_parquet(pagerank_replay(pr["src"].to_numpy(), pr["dst"].to_numpy()), exp / "pagerank.parquet")
    # components: a sparse random graph welded to a chain whose far end
    # holds the largest ids, so the minimum label walks the whole chain
    a = rng.integers(0, CC_NODES, CC_EDGES)
    c = rng.integers(0, CC_NODES, CC_EDGES)
    chain = np.arange(CC_NODES, CC_NODES + CC_CHAIN + 1)
    a = np.concatenate([a, [0], chain[:-1]])
    c = np.concatenate([c, [chain[0]], chain[1:]])
    cc = pd.DataFrame({"src": a, "dst": c}).astype(np.int64)
    _write_split(cc, inp / "cc_edges", 4)
    comps, rounds = components_replay(cc["src"].to_numpy(), cc["dst"].to_numpy())
    _write_parquet(comps, exp / "components.parquet")
    # Bradley-Terry: latent strengths, one directed row per duel
    strength = rng.lognormal(0.0, 1.0, BT_PLAYERS)
    i = rng.integers(0, BT_PLAYERS, BT_DUELS)
    j = (i + rng.integers(1, BT_PLAYERS, BT_DUELS)) % BT_PLAYERS
    win = (rng.random(BT_DUELS) < strength[i] / (strength[i] + strength[j])).astype(np.int64)
    bt = pd.DataFrame({"i": i, "j": j, "win": win}).astype(np.int64)
    _write_split(bt, inp / "duels", 4)
    _write_parquet(bradley_terry_replay(i, j, win), exp / "bradley_terry.parquet")
    # cohorts: users join over the first weeks and stay active with decay
    user = rng.integers(0, COHORT_USERS, COHORT_EVENTS)
    start = (rng.random(COHORT_USERS) * COHORT_WEEKS * 0.6 * 7 * 86_400).astype(np.int64)
    ts_s = COHORT_T0 + start[user] + (rng.exponential(14 * 86_400, COHORT_EVENTS)).astype(np.int64)
    ts_s = np.minimum(ts_s, COHORT_T0 + COHORT_WEEKS * 7 * 86_400 - 1)
    ev = pd.DataFrame(
        {"user_id": user.astype(np.int64), "ts": pd.to_datetime(ts_s, unit="s", utc=True)}
    )
    ev_schema = pa.schema([("user_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC"))])
    _write_split(ev, inp / "events", 4, ev_schema)
    _write_parquet(cohort_replay(user, ts_s), exp / "cohorts.parquet")
    (exp / "facts.json").write_text(json.dumps({"cc_rounds": rounds}))
    return {
        "rows": int(len(pr) + len(cc) + len(bt) + len(ev)),
        "pagerank_nodes": int(len(np.unique(pr_edges))),
        "pagerank_edges": int(len(pr)),
        "cc_nodes": int(len(comps)),
        "cc_edges": int(len(cc)),
        "cc_chain_length": CC_CHAIN,
        "cc_components": int(comps["component"].nunique()),
        "cc_rounds": rounds,
        "bt_players": BT_PLAYERS,
        "bt_duels": BT_DUELS,
        "cohort_users": COHORT_USERS,
        "cohort_events": COHORT_EVENTS,
    }


GENERATORS = {"bulk_load": gen_bulk, "cdc_merge": gen_cdc, "iterative_pass": gen_iterative}


def input_digest(root: Path) -> tuple[int, str]:
    """Total bytes and a sha256 over every input file, in path order."""
    h, total = hashlib.sha256(), 0
    for p in sorted(root.rglob("*.parquet")):
        data = p.read_bytes()
        total += len(data)
        h.update(p.relative_to(root).as_posix().encode())
        h.update(data)
    return total, h.hexdigest()


def generate(workload: str, seed: int, out: Path) -> dict:
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    props = GENERATORS[workload](rng, out)
    props["input_bytes"], props["input_sha256"] = input_digest(out / "input")
    props["seed"] = seed
    props["generate_s"] = round(time.perf_counter() - t0, 3)
    (out / "properties.json").write_text(json.dumps(props, indent=1))
    return props


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()
