"""Seeded input generators.

Every generator takes the workload seed and writes files under one
directory; the same seed gives byte-identical files. graft sees only these
files. `batch` runs the `als_train` and `graph_iter` parts, `session` the
`query_mix` and `lake_dml` parts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _write(table, path):
    # one row group, no pandas metadata: the bytes depend only on the data
    pq.write_table(table, path, row_group_size=1 << 30)


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _days(iso):
    return int(np.datetime64(iso, "D").astype(np.int64))


# ---- query_mix: the star schema and events stream the queries read ----

def tables(out, seed, sf=0.01):
    """TPC-H-shaped tables plus `events`, laid out as the declared queries
    expect (`<out>/<name>.parquet`), with the value domains of the engine's
    own test data."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[r.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    colors = np.array(["red", "blue", "green", "small", "large", "shiny", "matte", "dark"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve", "panel", "screw", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(colors[r.integers(0, 8, n_part)], " "),
                              nouns[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price}),
        f"{out}/part.parquet")

    d0, d1 = _days("1995-01-01"), _days("2001-08-01")
    odate = r.integers(d0, d1 + 1, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    lok = r.integers(0, n_ord, n_line)
    lpk = r.integers(0, n_part, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk] * r.uniform(0.9, 1.1, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + r.integers(1, 122, n_line))}),
        f"{out}/lineitem.parquet")

    t0 = _days("2024-01-01") * DAY_US
    ts = np.sort(t0 + r.integers(0, 30 * DAY_US, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[r.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(r.lognormal(2.5, 1.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")


# ---- als_train: MovieLens ml-1m `::` ratings ----

def ratings(out, seed, n_users=1500, n_items=900, n_ratings=40_000, rank=4):
    """`user::item::rating::ts` lines: Zipf item popularity, a planted
    rank-`rank` signal plus user/item biases and noise, integer stars
    1..5, sparse raw ids (so encoding has work to do)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    user_ids = r.choice(np.arange(1, 50 * n_users), n_users, replace=False)
    item_ids = r.choice(np.arange(1, 50 * n_items), n_items, replace=False)
    pop = 1.0 / np.arange(1, n_items + 1) ** 0.8
    pop = pop[r.permutation(n_items)]
    act = 1.0 / np.arange(1, n_users + 1) ** 0.5
    act = act[r.permutation(n_users)]
    u = r.choice(n_users, 2 * n_ratings, p=act / act.sum())
    i = r.choice(n_items, 2 * n_ratings, p=pop / pop.sum())
    pairs = np.unique(u.astype(np.int64) * n_items + i)
    pairs = r.permutation(pairs)[:n_ratings]
    u, i = pairs // n_items, pairs % n_items
    uf = r.normal(0, 0.7, (n_users, rank))
    vf = r.normal(0, 0.7, (n_items, rank))
    bu, bi = r.normal(0, 0.3, n_users), r.normal(0, 0.4, n_items)
    score = 3.4 + bu[u] + bi[i] + np.einsum("ij,ij->i", uf[u], vf[i]) + r.normal(0, 0.3, len(u))
    stars = np.clip(np.rint(score), 1, 5).astype(int)
    ts = 956_703_932 + r.integers(0, 90_000_000, len(u))
    with open(f"{out}/ratings.dat", "w") as f:
        f.writelines(f"{a}::{b}::{c}::{d}\n"
                     for a, b, c, d in zip(user_ids[u], item_ids[i], stars, ts))


# ---- graph_iter: a directed graph with skewed in-degree ----

def graph(out, seed, n_nodes=2000, n_edges=16_000, n_seeds=5):
    """Edges `(src, dst, w, c)`: `w` out-normalized per src (PageRank
    weights), `c` an integer cost 1..9 (hop costs); in-degree is Zipf
    skewed and a fifth of the nodes have no out-edges (dangling)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 3)
    ids = r.choice(np.arange(10 * n_nodes), n_nodes, replace=False)
    senders = r.permutation(n_nodes)[: int(0.8 * n_nodes)]
    pin = 1.0 / np.arange(1, n_nodes + 1) ** 1.1
    pin = pin[r.permutation(n_nodes)]
    src = r.choice(senders, 2 * n_edges)
    # a tenth of the edges land uniformly, so no node sits at the end of a
    # long chain and BFS reaches its fixpoint in a handful of levels
    dst = np.where(r.random(2 * n_edges) < 0.9,
                   r.choice(n_nodes, 2 * n_edges, p=pin / pin.sum()),
                   r.integers(0, n_nodes, 2 * n_edges))
    keep = src != dst
    pairs = np.unique(src[keep].astype(np.int64) * n_nodes + dst[keep])
    pairs = r.permutation(pairs)[:n_edges]
    src, dst = pairs // n_nodes, pairs % n_nodes
    outdeg = np.bincount(src, minlength=n_nodes)
    _write(pa.table({
        "src": pa.array(ids[src], pa.int64()),
        "dst": pa.array(ids[dst], pa.int64()),
        "w": 1.0 / outdeg[src],
        "c": pa.array(r.integers(1, 10, len(src)), pa.int64())}),
        f"{out}/edges.parquet")
    seeds = r.choice(np.unique(src), n_seeds, replace=False)
    _write(pa.table({"node": pa.array(ids[seeds], pa.int64())}), f"{out}/seeds.parquet")


# ---- lake_dml: a base table and per-round changesets, with their replay ----

LAKE_TYPES = ["click", "error", "purchase", "signup", "view"]


def lake(out, seed, n_rows=50_000, rounds=1, n_merge=500, n_insert=500, n_days=1):
    """`base.parquet` plus, per round, `merge_<i>.parquet` (half updates of
    live rows, half new rows) and `insert_<i>.parquet`, and the UPDATE and
    DELETE predicates in `lake_rounds.json`. The file also holds the
    benchmark's own replay: per event_type `[count, sum(cents)]` of the
    base table and of the table after each round."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 5)
    d0 = np.datetime64("2024-01-01", "D")

    def rows(ids):
        n = len(ids)
        return {"event_id": np.asarray(ids, np.int64),
                "event_type": np.array(LAKE_TYPES)[r.integers(0, 5, n)],
                "cents": r.integers(1, 50_000, n).astype(np.int64),
                "day": (d0 + r.integers(0, n_days, n)).astype(str)}

    def table(cols):
        return pa.table({"event_id": pa.array(cols["event_id"], pa.int64()),
                         "event_type": cols["event_type"],
                         "cents": pa.array(cols["cents"], pa.int64()),
                         "day": cols["day"]})

    def aggregate():
        agg = {}
        for v in live.values():
            a = agg.setdefault(str(v["event_type"]), [0, 0])
            a[0] += 1
            a[1] += int(v["cents"])
        return agg

    base = rows(r.permutation(n_rows))
    _write(table(base), f"{out}/base.parquet")
    live = {k: dict(zip(base.keys(), v)) for k, *v in zip(base["event_id"], *base.values())}
    base_expect = aggregate()
    next_id = n_rows
    params = []
    for i in range(rounds):
        ids = np.array(sorted(live))
        upd = r.choice(ids, n_merge // 2, replace=False)
        new = np.arange(next_id, next_id + n_merge - n_merge // 2)
        next_id += len(new)
        merge = rows(np.concatenate([upd, new]))
        _write(table(merge), f"{out}/merge_{i}.parquet")
        for row in zip(*merge.values()):
            live[row[0]] = dict(zip(merge.keys(), row))
        p = {"update_type": LAKE_TYPES[int(r.integers(0, 5))],
             "update_mod": 7, "update_rem": int(r.integers(0, 7)),
             "update_add": int(r.integers(1, 1000)),
             "delete_mod": 97, "delete_rem": int(r.integers(0, 97))}
        updated = [v for v in live.values()
                   if v["event_type"] == p["update_type"] and v["event_id"] % 7 == p["update_rem"]]
        for v in updated:
            v["cents"] += p["update_add"]
        deleted = [k for k in live if k % 97 == p["delete_rem"]]
        for k in deleted:
            del live[k]
        ins = rows(np.arange(next_id, next_id + n_insert))
        next_id += n_insert
        _write(table(ins), f"{out}/insert_{i}.parquet")
        for row in zip(*ins.values()):
            live[row[0]] = dict(zip(ins.keys(), row))
        p["expect"] = aggregate()
        p["rows_changed"] = n_merge + len(updated) + len(deleted) + n_insert
        params.append(p)
    with open(f"{out}/lake_rounds.json", "w") as f:
        json.dump({"base_expect": base_expect, "rounds": params}, f, indent=1, sort_keys=True)


def batch(out, seed):
    ratings(out, seed)
    graph(out, seed)


def session(out, seed):
    tables(out, seed)
    lake(out, seed)


GENERATORS = {"batch": batch, "session": session}
