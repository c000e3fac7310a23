"""Seeded input generator for the three benchmark workloads.

Every input is a parquet file written with pyarrow from a numpy
`default_rng(seed)` stream, so one seed gives byte-identical files.
The program under test only ever sees these files.

    python3 perfbench/gen.py --seed 7 --out .perfbench/inputs/demo

builds the inputs of both workloads (vault_features: a customer vault
plus its delta batch, and an event log; corpus_dedup: a document
corpus) in one process, writes each workload's DuckDB / known-answer
reference next to its inputs, and prints the input properties as JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes at --scale 1. The smoke test runs at a small fraction of these.
VAULT_BASE_CUSTOMERS = 20_000
VAULT_DELTA_SHARES = {"new": 0.03, "changed": 0.04, "deleted": 0.01, "unchanged": 0.02}
EVENTS = 200_000
EVENT_USERS = 10_000
EVENT_ZIPF_S = 0.9
EVENT_TYPE_P = {"view": 0.5, "click": 0.3, "purchase": 0.1, "signup": 0.05, "error": 0.05}
DOCS = 1_500
DOC_SHARES = {"exact_dup": 0.10, "chain": 0.20, "low_quality": 0.08}
CHAIN_MAX_DEPTH = 8

# The vault loads run at fixed process times so the expected snapshot
# is exact; the event window matches the catalog's oracle constants.
VAULT_T0 = "2024-01-01 00:00:00"
VAULT_T1 = "2024-01-02 00:00:00"
EVENTS_FROM = "2023-12-18 00:00:00"
EVENTS_TO = "2024-02-05 00:00:00"

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _us(s: str) -> int:
    dt = datetime.fromisoformat(s).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _zipf_choice(rng, n: int, s: float, size: int) -> np.ndarray:
    """0-based ranks drawn from a finite Zipf(s) law over n items."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    p /= p.sum()
    return rng.choice(n, size=size, p=p)


# -- vault: customers, accounts and one delta batch --------------------------


def _customer_attrs(rng, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "c_name": np.char.add("Customer#", keys.astype(str)),
        "c_segment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_phone": np.char.add("ph-", rng.integers(10**6, 10**7, n).astype(str)),
    }


def gen_vault(rng, out: str, scale: float) -> dict:
    n_base = max(200, int(VAULT_BASE_CUSTOMERS * scale))
    keys = np.arange(1, n_base + 1, dtype=np.int64)
    base = _customer_attrs(rng, keys)
    op = np.full(n_base, "U")
    sizes = {}
    sizes["base_sat"] = _write(
        pa.table({"c_custkey": keys, **base, "op": op}),
        os.path.join(out, "base_sat.parquet"),
    )
    # every customer holds 1-2 accounts; account ids are globally unique
    n_acc = rng.integers(1, 3, n_base)
    link_cust = np.repeat(keys, n_acc)
    link_acc = np.arange(1, len(link_cust) + 1, dtype=np.int64) + 10**7
    sizes["base_link"] = _write(
        pa.table({"c_custkey": link_cust, "account_id": link_acc}),
        os.path.join(out, "base_link.parquet"),
    )

    counts = {k: max(1, int(round(v * n_base))) for k, v in VAULT_DELTA_SHARES.items()}
    picked = rng.permutation(keys)
    at = 0
    sel = {}
    for kind in ("changed", "deleted", "unchanged"):
        sel[kind] = np.sort(picked[at : at + counts[kind]])
        at += counts[kind]
    sel["new"] = np.arange(n_base + 1, n_base + counts["new"] + 1, dtype=np.int64)

    idx = lambda ks: ks - 1  # noqa: E731 (base key k sits at row k-1)
    changed = {c: v[idx(sel["changed"])].copy() for c, v in base.items()}
    changed["c_acctbal"] = np.round(changed["c_acctbal"] + rng.uniform(1, 500, len(sel["changed"])), 2)
    moved = rng.random(len(sel["changed"])) < 0.5
    changed["c_segment"][moved] = np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), moved.sum())]
    new = _customer_attrs(rng, sel["new"])
    unchanged = {c: v[idx(sel["unchanged"])] for c, v in base.items()}
    deleted = {c: v[idx(sel["deleted"])] for c, v in base.items()}

    parts = [("new", new, "U"), ("changed", changed, "U"), ("unchanged", unchanged, "U"), ("deleted", deleted, "D")]
    delta = {
        "c_custkey": np.concatenate([sel[k] for k, _, _ in parts]),
        **{c: np.concatenate([p[c] for _, p, _ in parts]) for c in base},
        "op": np.concatenate([np.full(len(sel[k]), o) for k, _, o in parts]),
    }
    order = rng.permutation(len(delta["c_custkey"]))
    delta = {c: v[order] for c, v in delta.items()}
    sizes["delta_sat"] = _write(pa.table(delta), os.path.join(out, "delta_sat.parquet"))

    # links: every new customer opens 1-2 accounts; a sample of existing
    # links is re-sent unchanged (no-op for the loader)
    n_new_acc = rng.integers(1, 3, len(sel["new"]))
    new_link_cust = np.repeat(sel["new"], n_new_acc)
    new_link_acc = np.arange(1, len(new_link_cust) + 1, dtype=np.int64) + 2 * 10**7
    resend = rng.choice(len(link_cust), size=counts["unchanged"], replace=False)
    sizes["delta_link"] = _write(
        pa.table({
            "c_custkey": np.concatenate([new_link_cust, link_cust[resend]]),
            "account_id": np.concatenate([new_link_acc, link_acc[resend]]),
        }),
        os.path.join(out, "delta_link.parquet"),
    )

    # What the loads must report and what read_current('sat') must hold.
    expected_results = {
        "hub": {"inserts": counts["new"], "updates": 0, "deletes": counts["deleted"]},
        "sat": {"inserts": counts["new"], "updates": counts["changed"], "deletes": counts["deleted"]},
        "link": {"inserts": int(len(new_link_cust)), "updates": 0, "deletes": 0},
    }
    t0, t1 = _us(VAULT_T0), _us(VAULT_T1)
    rows = []

    def add(ks, attrs, rectype, version, start):
        for i, k in enumerate(ks.tolist()):
            rows.append((
                hashlib.md5(f"customer{k}".encode()).hexdigest(), rectype, version,
                str(attrs["c_name"][i]), str(attrs["c_segment"][i]),
                float(attrs["c_acctbal"][i]), str(attrs["c_phone"][i]), start,
            ))

    touched = np.concatenate([sel["changed"], sel["deleted"]])
    keep = np.setdiff1d(keys, touched)
    add(keep, {c: v[idx(keep)] for c, v in base.items()}, "I", 1, t0)
    add(sel["changed"], changed, "U", 2, t1)
    add(sel["deleted"], deleted, "D", 2, t1)
    add(sel["new"], new, "I", 1, t1)
    rows.sort()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"results": expected_results, "current": rows}, f)

    return {
        "base_customers": n_base,
        "base_links": int(len(link_cust)),
        "delta_rows": int(len(delta["c_custkey"])),
        "delta_shares": {k: round(v / n_base, 4) for k, v in counts.items()},
        "delta_counts": counts,
        "delta_link_rows": int(len(new_link_cust) + counts["unchanged"]),
        "source_batch_bytes": sizes["delta_sat"] + sizes["delta_link"],
        "bytes": sum(sizes.values()),
    }


# -- events ----------------------------------------------------------------


def gen_events(rng, out: str, scale: float) -> dict:
    n = max(2_000, int(EVENTS * scale))
    n_users = max(100, int(EVENT_USERS * scale))
    users = _zipf_choice(rng, n_users, EVENT_ZIPF_S, n) + 1
    # user ids are a seeded permutation, so skew is not tied to id order
    user_id = rng.permutation(n_users).astype(np.int64)[users - 1] + 1
    types = np.array(list(EVENT_TYPE_P))
    etype = types[rng.choice(len(types), size=n, p=list(EVENT_TYPE_P.values()))]
    lo, hi = _us(EVENTS_FROM), _us(EVENTS_TO)
    # bursts: half the events move to within 20 minutes after another
    # event of the same user, so sessions span several events
    ts = rng.integers(lo, hi, n)
    by_user = np.argsort(user_id, kind="stable")
    first = np.searchsorted(user_id[by_user], user_id)  # the user's first slot
    partner = by_user[np.minimum(first + rng.integers(0, 3, n), n - 1)]
    follow = (rng.random(n) < 0.5) & (user_id[partner] == user_id)
    burst = ts[partner] + rng.integers(1, 20 * 60, n) * 1_000_000
    ts = np.where(follow, np.minimum(burst, hi - 1), ts)
    value = np.where(
        etype == "purchase",
        np.round(rng.uniform(1, 500, n), 2),
        rng.integers(1, 400, n).astype(np.float64),
    )
    event_id = rng.permutation(n).astype(np.int64) + 1
    table = pa.table({
        "event_id": event_id,
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": user_id,
        "event_type": etype,
        "value": value,
    })
    size = _write(table, os.path.join(out, "events.parquet"))
    per_user = np.bincount(user_id)
    top = np.sort(per_user)[::-1]
    return {
        "events": n,
        "users": int((per_user > 0).sum()),
        "zipf_s": EVENT_ZIPF_S,
        "top_user_share": round(float(top[0] / n), 4),
        "top_1pct_users_share": round(float(top[: max(1, n_users // 100)].sum() / n), 4),
        "event_type_p": EVENT_TYPE_P,
        "span": [EVENTS_FROM, EVENTS_TO],
        "bytes": size,
    }


# -- docs -----------------------------------------------------------------


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens}
    return np.array(sorted(words - set(STOPWORDS)))


def _doc_tokens(rng, vocab: np.ndarray) -> list[str]:
    n = int(rng.integers(60, 110))
    toks = vocab[_zipf_choice(rng, len(vocab), 0.6, n)].tolist()
    for i in np.flatnonzero(rng.random(n) < 0.15):
        toks[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return toks


def _render(rng, toks: list[str]) -> str:
    """Sentences of 8-15 words, two or three sentences per line."""
    lines, cur, i = [], [], 0
    while i < len(toks):
        k = int(rng.integers(8, 16))
        cur.append(" ".join(toks[i : i + k]) + ".")
        i += k
        if len(cur) == 3 or rng.random() < 0.4:
            lines.append(" ".join(cur))
            cur = []
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


def gen_docs(rng, out: str, scale: float) -> dict:
    n = max(120, int(DOCS * scale))
    vocab = _vocab(rng, 6000)
    n_dup = int(n * DOC_SHARES["exact_dup"])
    n_chain = int(n * DOC_SHARES["chain"])
    n_low = int(n * DOC_SHARES["low_quality"])
    n_base = n - n_dup - n_chain
    texts: list[str] = []
    depths = []
    for _ in range(n_base - n_low):
        texts.append(_render(rng, _doc_tokens(rng, vocab)))
    for i in range(n_low):
        toks = _doc_tokens(rng, vocab)
        if i % 2:  # too short for Gopher's 50-word floor
            texts.append(_render(rng, toks[:30]))
        else:  # one line repeated: fails the duplicate-line rules
            line = " ".join(toks[:12]) + "."
            texts.append("\n".join([_render(rng, toks[12:60])] + [line] * 8))
    # Near-duplicate chains: each step re-draws ~S/28 tokens at fresh
    # positions (S = 3-shingle count), so neighbours stay above Jaccard
    # 0.8 and two steps apart fall below it; components are paths.
    made = 0
    while made < n_chain:
        depth = int(min(CHAIN_MAX_DEPTH, n_chain - made, rng.integers(2, CHAIN_MAX_DEPTH + 1)))
        toks = _doc_tokens(rng, vocab)
        layout = int(rng.integers(2**32))  # one line layout for the whole chain
        m = max(1, (len(toks) - 2) // 28)
        free = rng.permutation(np.arange(0, len(toks), 3))
        for step in range(depth):
            if step:
                for pos in free[(step - 1) * m : step * m]:
                    toks[int(pos)] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(_render(np.random.default_rng(layout), toks))
        depths.append(depth)
        made += depth
    # exact duplicates of already-written documents (any kind)
    src = rng.integers(0, len(texts), n_dup)
    texts.extend(texts[int(i)] for i in src)
    doc_id = rng.permutation(n).astype(np.int64) + 1
    order = np.argsort(doc_id)
    table = pa.table({
        "doc_id": doc_id[order],
        "text": pa.array([texts[int(i)] for i in order], type=pa.string()),
    })
    size = _write(table, os.path.join(out, "documents.parquet"))
    depth_hist = np.bincount(np.array(depths), minlength=CHAIN_MAX_DEPTH + 1)
    return {
        "docs": n,
        "exact_dup_share": round(n_dup / n, 4),
        "chain_member_share": round(n_chain / n, 4),
        "low_quality_share": round(n_low / n, 4),
        "chains": len(depths),
        "chain_depth_hist": {str(d): int(c) for d, c in enumerate(depth_hist) if c},
        "chains_deeper_than_5": int(sum(d > 5 for d in depths)),
        "bytes": size,
    }


# The input sets each workload reads, by name.
GENERATORS = {"vault": gen_vault, "events": gen_events, "docs": gen_docs}
INPUT_SETS = {"vault_features": ("vault", "events"), "corpus_dedup": ("docs",)}
WORKLOADS = tuple(INPUT_SETS)


def generate(workload: str, seed: int, scale: float, out: str) -> dict:
    """Write one workload's inputs under `out`; return their properties."""
    os.makedirs(out, exist_ok=True)
    props = {}
    for name in INPUT_SETS[workload]:
        # one stream per input set, so an input does not depend on which
        # other inputs were generated in the same process
        rng = np.random.default_rng([seed, list(GENERATORS).index(name)])
        props[name] = GENERATORS[name](rng, out, scale)
    return props


def prepare(workload: str, seed: int, scale: float, out: str) -> dict:
    """Inputs plus reference for one workload, cached by directory.

    The directory is complete only once `props.json` exists, so an
    interrupted run is regenerated rather than trusted."""
    props_path = os.path.join(out, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return json.load(f)
    from reference import build_reference  # perfbench/ is on sys.path

    t0 = time.perf_counter()
    props = generate(workload, seed, scale, out)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    build_reference(workload, out)
    props = {"seed": seed, "scale": scale, **props, "gen_s": gen_s, "reference_s": time.perf_counter() - t0}
    with open(props_path + ".tmp", "w") as f:
        json.dump(props, f)
    os.replace(props_path + ".tmp", props_path)
    return props


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True, help="one sub-directory per workload is made here")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args(argv)
    props = {}
    for w in args.workloads.split(","):
        if w not in WORKLOADS:
            ap.error(f"unknown workload {w!r}")
        props[w] = prepare(w, args.seed, args.scale, os.path.join(args.out, w))
    print(json.dumps(props))
    return 0


if __name__ == "__main__":
    HERE = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [HERE, os.path.dirname(HERE)]  # perfbench/ and the repo root
    sys.exit(main())
