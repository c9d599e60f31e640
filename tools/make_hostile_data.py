"""Generate the HOSTILE-DATA fixture variant (VERDICT r6 next-round #3).

The two five-round-red gate rows survived every local sweep because the
local fixtures are benign: no NULL dates, small `props` k values, no
extreme numerics. Engine-default asymmetries (Spark ASC=NULLS FIRST vs
DuckDB NULLS LAST; Spark non-ANSI silent int64 wrap vs DuckDB HUGEINT;
Spark NULL-on-overflow cast vs DuckDB cast error; NaN-to-integer cast)
are invisible on benign data BY CONSTRUCTION. This tool derives a
fixture from a base sf dir with every such channel armed:

- NULLs in EVERY nullable column: dates, timestamps, join keys, group
  keys, strings, doubles, props, text, embeddings.
- Empty strings in every string column that feeds grouping/regex.
- NaN / +Inf / -Inf doubles (events.value, acctbals, prices on a few
  rows, embedding components).
- int64-edge numerics: prices ~9e13 (cents ~9e15 — per-row products
  like cents*(100-d)*(100+t) exceed int64, catching per-row wrap),
  `props` k at epoch-seconds / millis / micros scale, near-int64 k,
  and k ABOVE int64 (string->bigint overflow: Spark non-ANSI yields
  NULL, DuckDB CAST errors — oracles must TRY_CAST).
- Hostile props encodings: quoted "k", negative k, whitespace, missing
  k, malformed JSON, empty string, NULL.
- Empty and NULL embedding vectors, NaN components.

Deterministic (fixed seed, fixed mutation positions). Row counts stay
within a few dozen of the base so the full registry runs in minutes.

Two tiers are generated so NaN cast errors cannot MASK other channels:

  testdata_hostile_nonan  NULLs + int64-edge + empty strings only —
                          the driver-plausible envelope (the gate's
                          green float-casting rows prove driver data
                          has no NaN/Inf, but NULL dates and big
                          magnitudes are live risks). Target: the
                          full registry must PASS here.
  testdata_hostile        everything above PLUS NaN/±Inf doubles —
                          the chaos tier for cast-guard hardening.

Usage: python tools/make_hostile_data.py [base_sf_dir] [out_root]
Defaults: the sf0.001 test data -> testdata_hostile{,_nonan} in this checkout
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

BASE = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_hostile")

NAN = float("nan")
INF = float("inf")
NINF = float("-inf")

# price with cents ~4.3e15 — INSIDE the engine's documented _cents
# domain (|x| < 2^52/100 ~ 4.5e13 dollars) yet big enough that per-row
# bigint products (cents * two small ints, ~8.5e19) exceed int64,
# arming the multiply-wrap channel while plain per-group sums stay
# exact. Values beyond the documented money domain are out of contract
# (floor(x*100+0.5) loses the tie-free property past 2^52/100).
BIG_PRICE = 43210987654321.09
# above int64 after *1e6 scaling at modest group sums
MID_PRICE = 98765432109.87


def col(tbl: pa.Table, name: str) -> list:
    return tbl.column(name).to_pylist()


def rebuild(tbl: pa.Table, data: dict[str, list]) -> pa.Table:
    arrays = []
    for f in tbl.schema:
        arrays.append(pa.array(data[f.name], type=f.type))
    return pa.Table.from_arrays(arrays, schema=pa.schema(list(tbl.schema)))


def mutate_orders(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    n = len(d["o_orderkey"])
    maxk = max(d["o_orderkey"])
    # NULL dates sprinkled through the series (the confirmed 1a channel)
    for i in range(0, n, max(1, n // 7)):
        d["o_orderdate"][i] = None
    # NULL / empty group keys and a NULL join key
    d["o_orderpriority"][1] = None
    d["o_orderpriority"][2] = ""
    d["o_orderstatus"][3] = None
    d["o_custkey"][4] = None
    # extreme + NULL + NaN/Inf totalprice
    d["o_totalprice"][5] = BIG_PRICE
    d["o_totalprice"][6] = MID_PRICE
    d["o_totalprice"][7] = None
    d["o_totalprice"][8] = 0.0
    d["o_totalprice"][9] = NAN
    d["o_totalprice"][10] = INF
    d["o_totalprice"][11] = NINF
    # appended fully-hostile rows
    for j, (tp, od) in enumerate(
        [
            (BIG_PRICE, None),
            (None, None),
            (MID_PRICE, dt.datetime(2039, 12, 31)),
            (0.01, dt.datetime(1969, 12, 31, 23, 59, 59)),
        ]
    ):
        d["o_orderkey"].append(maxk + 1 + j)
        d["o_custkey"].append(None if j == 1 else 1)
        d["o_orderstatus"].append("" if j == 0 else None)
        d["o_totalprice"].append(tp)
        d["o_orderdate"].append(od)
        d["o_orderpriority"].append(None if j % 2 else "")
    return rebuild(tbl, d)


def mutate_lineitem(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    n = len(d["l_orderkey"])
    for i in range(0, n, max(1, n // 9)):
        d["l_shipdate"][i] = None
    d["l_returnflag"][1] = None
    d["l_returnflag"][2] = ""
    d["l_linestatus"][3] = None
    d["l_partkey"][4] = None
    d["l_suppkey"][5] = None
    d["l_extendedprice"][6] = BIG_PRICE
    d["l_extendedprice"][7] = MID_PRICE
    d["l_extendedprice"][8] = None
    d["l_extendedprice"][9] = NAN
    d["l_extendedprice"][10] = INF
    d["l_quantity"][11] = None
    d["l_quantity"][12] = 0.0
    d["l_discount"][13] = None
    d["l_discount"][14] = 0.99
    d["l_tax"][15] = None
    return rebuild(tbl, d)


def mutate_events(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    n = len(d["event_id"])
    maxid = max(d["event_id"])
    for i in range(0, n, max(1, n // 8)):
        d["ts"][i] = None
    d["user_id"][1] = None
    d["event_type"][2] = None
    d["event_type"][3] = ""
    d["value"][4] = None
    d["value"][5] = NAN
    d["value"][6] = INF
    d["value"][7] = NINF
    d["value"][8] = BIG_PRICE
    # hostile props on existing rows: the k-magnitude ladder
    hostile_props = [
        json.dumps({"k": 1_700_000_000}),          # epoch seconds
        json.dumps({"k": 1_700_000_000_000}),      # epoch millis
        json.dumps({"k": 1_700_000_000_000_000}),  # epoch micros
        '{"k": 9223372036854775000}',              # near int64 max
        '{"k": 99999999999999999999999}',          # ABOVE int64
        '{"k": -5}',                               # negative (regex no-match)
        '{"k": "123"}',                            # quoted
        '{"k" :  7 }',                             # hostile whitespace
        '{"k":\x0b42}',                            # VERTICAL TAB: Java \\s
                                                   # matches it, RE2 \\s not
        '{"z": 1}',                                # missing k
        '{not json',                               # malformed
        "",                                        # empty string
        None,                                      # NULL props
    ]
    for i, p in enumerate(hostile_props):
        d["props"][9 + i] = p
    # appended rows combining hostile props with NULL everything else
    for j, p in enumerate(hostile_props):
        d["event_id"].append(maxid + 1 + j)
        d["ts"].append(None if j % 2 else dt.datetime(2024, 6, 1) + dt.timedelta(seconds=j))
        d["user_id"].append(None if j % 3 == 0 else j)
        d["event_type"].append(["click", None, "", "purchase"][j % 4])
        d["value"].append([None, NAN, 1.25, INF][j % 4])
        d["props"].append(p)
    return rebuild(tbl, d)


def mutate_customer(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    d["c_acctbal"][1] = None
    d["c_acctbal"][2] = NAN
    d["c_acctbal"][3] = NINF
    d["c_mktsegment"][4] = None
    d["c_mktsegment"][5] = ""
    d["c_name"][6] = ""
    d["c_nationkey"][7] = None
    return rebuild(tbl, d)


def mutate_supplier(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    d["s_acctbal"][1] = None
    d["s_acctbal"][2] = NAN
    d["s_nationkey"][3] = None
    d["s_name"][4] = ""
    return rebuild(tbl, d)


def mutate_part(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    d["p_brand"][1] = None
    d["p_brand"][2] = ""
    d["p_type"][3] = None
    d["p_type"][4] = ""
    d["p_size"][5] = None
    d["p_size"][6] = 0
    d["p_retailprice"][7] = None
    d["p_retailprice"][8] = NAN
    d["p_name"][9] = ""
    return rebuild(tbl, d)


def mutate_nation(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    d["n_name"][1] = None
    return rebuild(tbl, d)


def mutate_documents(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    d["text"][1] = None
    d["text"][2] = ""
    d["text"][3] = "   "
    d["text"][4] = "\n\t"
    # r8: VERTICAL TAB between words — Java regex \s matches \x0B,
    # RE2's does not, so any oracle still using RE2's \s shorthand
    # tokenizes/cleans this row differently (the class the r8
    # _java_ws explicit-class mirror closes)
    d["text"][10] = "alpha\x0bbeta gamma\x0b delta"
    d["lang"][5] = None
    d["lang"][6] = ""
    d["source"][7] = None
    d["n_chars"][8] = None
    d["n_chars"][9] = 0
    # keep n_chars consistent where text was emptied (some queries trust
    # the metadata column, some the text — both paths must survive)
    d["n_chars"][2] = 0
    return rebuild(tbl, d)


def mutate_embeddings(tbl: pa.Table) -> pa.Table:
    d = {f.name: col(tbl, f.name) for f in tbl.schema}
    dim = len(d["embedding"][0])
    d["embedding"][1] = None
    d["embedding"][2] = []
    d["embedding"][3] = [0.0] * dim
    v = list(d["embedding"][4])
    v[0] = NAN
    d["embedding"][4] = v
    d["label"][5] = None
    return rebuild(tbl, d)


MUTATORS = {
    "orders": mutate_orders,
    "lineitem": mutate_lineitem,
    "events": mutate_events,
    "customer": mutate_customer,
    "supplier": mutate_supplier,
    "part": mutate_part,
    "nation": mutate_nation,
    "documents": mutate_documents,
    "embeddings": mutate_embeddings,
}


def write_tier(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        tbl = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        mut = MUTATORS.get(name)
        out = mut(tbl) if mut else tbl
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
        print(f"{name}: {tbl.num_rows} -> {out.num_rows} rows")
    print(f"hostile fixture written to {out_dir}")


def main() -> int:
    global NAN, INF, NINF
    # chaos tier: NULLs + edge magnitudes + NaN/Inf
    write_tier(OUT)
    # driver-plausible tier: same mutations, NaN/Inf slots become NULLs
    NAN = None
    INF = None
    NINF = None
    write_tier(OUT + "_nonan")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
