"""Seeded input staging for the benchmark.

Every table is generated from the run's --seed alone, so the same seed
gives byte-identical parquet files and the program receives only the
staged paths. The generator follows the shape of the repository's
TPC-H-like test data (tables region, nation, customer, supplier, part,
orders, lineitem, events; same column names, types and value domains),
scaled by a scale factor `sf` (sf 0.1 = 600k lineitem rows). Every
foreign key points at an existing row: l_orderkey into orders,
o_custkey into customer, l_suppkey into supplier, l_partkey into part,
*_nationkey into nation, n_regionkey into region.

The sink workload gets a 10x orders table partitioned by an integer
month key `o_ym` (year*100 + month, never null, no spaces) plus a
sequence of month-bounded upsert/delete changesets.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(np.int64)) + 1
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - SHIP_DAY0).astype(np.int64)) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * US_PER_DAY

# Merge workload shape: about 80 month partitions, changesets touching one
# month each (plus the month a moved row lands in).
SINK_COPIES = 10


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0, offsets):
    return (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def tables(seed, sf):
    """All TPC-H-like tables at scale factor `sf`, as pyarrow tables."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_user = max(1, round(15_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})

    r = _rng(seed, 3)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    out["orders"] = orders(seed, n_ord, n_cust)

    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(SHIP_DAY0, r.integers(0, SHIP_DAYS, n_line)))})

    r = _rng(seed, 6)
    ts = EVENT_T0 + np.sort(r.integers(0, EVENT_SPAN_US, n_evt)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(r.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)])})
    return out


def orders(seed, n_ord, n_cust):
    r = _rng(seed, 4)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(r, STATUS, n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(ORDER_DAY0, r.integers(0, ORDER_DAYS, n_ord))),
        "o_orderpriority": _pick(r, PRIORITY, n_ord)})


def stage_tables(seed, sf, out_dir):
    """Write every table to `<out_dir>/<name>.parquet` (the layout
    `graft.Tables` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _ym(dates_us):
    d = dates_us.astype("datetime64[M]")
    y = d.astype("datetime64[Y]").astype(np.int64) + 1970
    m = d.astype(np.int64) % 12 + 1
    return (y * 100 + m).astype(np.int32)


def stage_sink(seed, sf, n_changesets, out_dir):
    """The merge workload's inputs: `orders10.parquet` (SINK_COPIES
    key-shifted copies of the seeded orders table, partition column
    `o_ym`) and `changes/cs_NNN.parquet`, each a month-bounded changeset
    with a boolean `del` column. Every changeset holds each key once:
    updates and deletes of rows live in its month, a few rows moved to
    the next month, new keys, and (in every fifth changeset) rows
    re-sent unchanged, which a merge rewrites without changing."""
    os.makedirs(os.path.join(out_dir, "changes"), exist_ok=True)
    n_ord = max(1, round(1_500_000 * sf))
    n_cust = max(1, round(150_000 * sf))
    one = orders(seed, n_ord, n_cust)
    cols = {k: one.column(k).to_numpy(zero_copy_only=False) for k in one.column_names}
    copy = np.repeat(np.arange(SINK_COPIES, dtype=np.int64), n_ord)
    base = {k: np.tile(v, SINK_COPIES) for k, v in cols.items()}
    base["o_orderkey"] = base["o_orderkey"] * SINK_COPIES + copy
    base["o_orderdate"] = base["o_orderdate"].astype("datetime64[us]")
    base["o_ym"] = _ym(base["o_orderdate"])
    pq.write_table(_sink_table(base), os.path.join(out_dir, "orders10.parquet"))

    # Live state per month, so that every changeset addresses rows that
    # exist when it is applied.
    months = np.unique(base["o_ym"])
    by_month = {}
    order = np.argsort(base["o_ym"], kind="stable")
    bounds = np.searchsorted(base["o_ym"][order], months)
    bounds = list(bounds) + [len(order)]
    for i, m in enumerate(months):
        idx = order[bounds[i]:bounds[i + 1]]
        by_month[int(m)] = {k: v[idx] for k, v in base.items()}
    next_key = int(base["o_orderkey"].max()) + 1
    r = _rng(seed, 7)
    for c in range(n_changesets):
        m = int(months[r.integers(0, len(months))])
        live = by_month[m]
        n_live = len(live["o_orderkey"])
        if c % 5 == 4:
            take = r.choice(n_live, size=min(300, n_live), replace=False)
            cs = {k: v[take] for k, v in live.items()}
            cs["del"] = np.zeros(len(take), dtype=bool)
        else:
            take = r.choice(n_live, size=min(400, n_live), replace=False)
            upd, dele, mov = take[:250], take[250:330], take[330:]
            u = {k: v[upd].copy() for k, v in live.items()}
            u["o_totalprice"] = np.round(u["o_totalprice"] * r.uniform(0.9, 1.1, len(upd)), 2)
            u["o_orderstatus"] = np.asarray(STATUS, dtype=object)[r.integers(0, 3, len(upd))]
            d = {k: v[dele].copy() for k, v in live.items()}
            mv = {k: v[mov].copy() for k, v in live.items()}
            nxt = (mv["o_orderdate"].astype("datetime64[M]") + 1).astype("datetime64[D]")
            nxt = np.minimum(nxt, ORDER_DAY0 + ORDER_DAYS - 1)
            mv["o_orderdate"] = nxt.astype("datetime64[us]")
            mv["o_ym"] = _ym(mv["o_orderdate"])
            n_new = 60
            ins = {
                "o_orderkey": np.arange(next_key, next_key + n_new, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_new, dtype=np.int64),
                "o_orderstatus": np.asarray(STATUS, dtype=object)[r.integers(0, 3, n_new)],
                "o_totalprice": _money(r, 1000.0, 500000.0, n_new),
                "o_orderdate": np.repeat(live["o_orderdate"][:1], n_new),
                "o_orderpriority": np.asarray(PRIORITY, dtype=object)[r.integers(0, 5, n_new)],
                "o_ym": np.full(n_new, m, dtype=np.int32)}
            next_key += n_new
            parts = [u, d, mv, ins]
            cs = {k: np.concatenate([p[k] for p in parts]) for k in base}
            cs["del"] = np.concatenate([np.zeros(len(upd), bool), np.ones(len(dele), bool),
                                        np.zeros(len(mov) + n_new, bool)])
        pq.write_table(_sink_table(cs, with_del=True),
                       os.path.join(out_dir, "changes", f"cs_{c:03d}.parquet"))
        _apply(by_month, cs, m)


def _apply(by_month, cs, m):
    """Replays one changeset on the live state. Every existing key a
    changeset names lives in its month `m`; the rest are new keys."""
    live = by_month[m]
    keep = ~np.isin(live["o_orderkey"], cs["o_orderkey"])
    by_month[m] = {k: v[keep] for k, v in live.items()}
    put = ~cs["del"]
    for dst in np.unique(cs["o_ym"][put]):
        sel = put & (cs["o_ym"] == dst)
        cur = by_month.setdefault(int(dst), {k: v[:0] for k, v in live.items()})
        by_month[int(dst)] = {k: np.concatenate([cur[k], cs[k][sel]]) for k in cur}


def _sink_table(cols, with_del=False):
    t = {
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(cols["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(cols["o_orderdate"].astype("datetime64[us]")),
        "o_orderpriority": pa.array(cols["o_orderpriority"], pa.string()),
        "o_ym": pa.array(cols["o_ym"], pa.int32())}
    if with_del:
        t["del"] = pa.array(cols["del"], pa.bool_())
    return pa.table(t)
