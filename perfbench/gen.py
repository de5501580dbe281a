"""Seeded input generator for the benchmark.

Everything the workloads read is written here, under a work directory
inside the checkout, from ``--seed`` alone:

* ``mmj/`` -- one parquet file per entry of
  ``g1_etl_spark.entities.schemas.ALL_SCHEMAS``, referentially consistent
  (``dispensary_users`` -> ``users``, ``menu_item_prices`` ->
  ``menu_items``), with real category names, a mix of active and on-hold
  products, Zipf-skewed dispensary sizes and one chain-sized dispensary.
  `gen_mmj` returns the expected document count per entity and
  dispensary.
* ``facts/`` -- the ten TPC-H-ish tables of ``g1_etl_spark.catalog``,
  shaped like the sf-scaled test data (same columns, types, value ranges
  and literals the registry queries filter on).
* ``stream/`` -- the facts' events split into time-ordered files, with a
  seeded share of late and duplicate events.

Only numpy and pyarrow run here: generation starts no JVM.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from g1_etl_spark.entities.schemas import ALL_SCHEMAS

UTC_US = pa.timestamp("us", tz="UTC")
_ARROW = {T.LongType: pa.int64(), T.IntegerType: pa.int32(),
          T.DoubleType: pa.float64(), T.StringType: pa.string(),
          T.TimestampType: UTC_US}

# Category names the products pipeline maps (functions/sql_text.map_categories)
CATEGORY_NAMES = ("Cannabis", "Paraphernalia", "Tincture", "Prerolled",
                  "Seeds", "Drinks", "Edibles", "Concentrate", "Wax",
                  "Hash", "Topicals", "Clone", "Gear")
ENTITIES = ("settings", "employees", "members", "products", "vendors",
            "physicians")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _mmj_table(name: str, cols: dict) -> pa.Table:
    schema = pa.schema([pa.field(f.name, _ARROW[type(f.dataType)])
                        for f in ALL_SCHEMAS[name].fields])
    n = len(next(iter(cols.values())))
    arrays = []
    for field in schema:
        v = cols.get(field.name)
        if v is None:
            arrays.append(pa.nulls(n, field.type))
        elif isinstance(v, tuple):
            values, null = v
            arrays.append(pa.array(np.asarray(values), type=field.type,
                                   mask=null))
        else:
            arrays.append(pa.array(np.asarray(v), type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def _ts(rng, n, lo=dt.datetime(2012, 1, 1), days=3000):
    base = np.datetime64(lo, "us")
    off = rng.integers(0, days * 86_400, n).astype("timedelta64[s]")
    return base + off


def _maybe_null(rng, values, share):
    """(values, null mask) with a seeded `share` of nulls."""
    return values, rng.random(len(values)) < share


def _prices(rng, n) -> dict:
    """The seven weight-tier price columns, in dollars."""
    return {c: np.round(rng.random(n) * top, 2) for c, top in (
        ("price_half_gram", 8), ("price_gram", 15), ("price_two_gram", 28),
        ("price_eigth", 45), ("price_quarter", 85), ("price_half", 160),
        ("price_ounce", 300))}


def _words(rng, n, prefix):
    return [f"{prefix} {i}" for i in rng.integers(0, 10_000, n)]


def dispensary_sizes(rng, n_dispensaries: int, largest: int,
                     chain: int) -> np.ndarray:
    """Zipf-skewed member counts (rank^-1.1, shuffled ranks) followed by
    one chain-sized dispensary."""
    ranks = rng.permutation(n_dispensaries) + 1
    sizes = np.maximum(8, (largest * ranks ** -1.1).astype(int))
    return np.append(sizes, chain)


def gen_mmj(out: str, seed: int) -> dict:
    """Write the 14 mmj source tables for 24 Zipf-sized dispensaries (the
    largest 1500 members) and a chain of 6000, and return the
    expectations: {dispensary_id: {"org": str, <entity>: doc count}}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    sizes = dispensary_sizes(rng, 24, 1500, 6000)
    disp_ids = np.arange(1, len(sizes) + 1, dtype=np.int64)
    org_of = {int(d): str(4000 + 7 * int(d)) for d in disp_ids}
    expected = {int(d): {"org": org_of[int(d)]} for d in disp_ids}

    # members: one customers row per member
    c_disp = np.repeat(disp_ids, sizes)
    n = len(c_disp)
    c_id = rng.permutation(n).astype(np.int64) + 1
    _write(_mmj_table("customers", {
        "id": c_id, "dispensary_id": c_disp,
        "picture_file_name": _maybe_null(
            rng, [f"p{i}.jpg" for i in c_id], 0.5),
        "name": _words(rng, n, "Member"),
        "email": [f"m{i}@example.com" for i in c_id],
        "address": _words(rng, n, "Main St"),
        "phone_number": [f"555-{i % 10_000:04d}" for i in c_id],
        "dob": _maybe_null(rng, _ts(rng, n, dt.datetime(1950, 1, 1), 18_000),
                           0.1),
        "license_type": rng.integers(1, 3, n).astype(np.int32),
        "registry_no": [f"R{i}" for i in c_id],
        "membership_id": rng.integers(1, 50, n),
        "given_caregivership": rng.integers(0, 2, n).astype(np.int32),
        "tax_exempt": rng.integers(0, 2, n).astype(np.int32),
        "drivers_license_no": [f"DL{i}" for i in c_id],
        "points": np.round(rng.random(n) * 500, 2),
        "locked_visits": (rng.random(n) < 0.1).astype(np.int32),
        "locked_visits_reason": _maybe_null(rng, ["overdue"] * n, 0.9),
        "caregiver_id": _maybe_null(rng, rng.integers(1, 1000, n), 0.7),
        "card_expires_at": _maybe_null(rng, _ts(rng, n), 0.3),
        "created_at": _ts(rng, n), "updated_at": _ts(rng, n),
        "physician_id": rng.integers(1, 200, n),
        "custom_membership_id": _maybe_null(
            rng, [f"CM{i}" for i in c_id], 0.5),
        "organization_membership_id": _maybe_null(
            rng, [f"OM{i}" for i in c_id], 0.5),
        "city": _words(rng, n, "City"), "state": ["CO"] * n,
        "zip_code": [f"{80000 + i % 999}" for i in c_id],
        "organization_id": [int(org_of[int(d)]) for d in c_disp],
    }), os.path.join(out, "customers.parquet"))

    # employees: users + dispensary_users, ~1 employee per 40 members;
    # some users carry a second dispensary_users row (min/max fold)
    n_emp = np.maximum(2, sizes // 40)
    u_disp = np.repeat(disp_ids, n_emp)
    nu = len(u_disp)
    u_id = np.arange(1, nu + 1, dtype=np.int64)
    first = _maybe_null(rng, _words(rng, nu, "First"), 0.1)
    _write(_mmj_table("users", {
        "id": u_id, "email": [f"u{i}@example.com" for i in u_id],
        "first_name": first, "last_name": _words(rng, nu, "Last"),
        "login": [f"user{i}" for i in u_id],
        "organization_id": [int(org_of[int(d)]) for d in u_disp],
        "created_at": _ts(rng, nu), "updated_at": _ts(rng, nu),
    }), os.path.join(out, "users.parquet"))
    dup = rng.random(nu) < 0.2
    du_user = np.concatenate([u_id, u_id[dup]])
    du_disp = np.concatenate([u_disp, u_disp[dup]])
    m = len(du_user)
    _write(_mmj_table("dispensary_users", {
        "user_id": du_user, "dispensary_id": du_disp,
        "active": rng.integers(0, 2, m).astype(np.int32),
        "access": rng.integers(1, 5, m).astype(np.int32),
    }), os.path.join(out, "dispensary_users.parquet"))

    # vendors and physicians: a few per dispensary
    for table, per in (("vendors", 60), ("physicians", 80)):
        counts = np.maximum(1, sizes // per)
        d = np.repeat(disp_ids, counts)
        k = len(d)
        ids = np.arange(1, k + 1, dtype=np.int64)
        cols = {
            "id": ids, "dispensary_id": d,
            "name": [("Dr. " if table == "physicians" and i % 2 else "")
                     + f"{table[:-1].title()} {i}" for i in ids],
            "email": _maybe_null(rng, [f"{table}{i}@example.com"
                                       for i in ids], 0.2),
            "phone_number": _maybe_null(rng, [f"555-{i:04d}" for i in ids],
                                        0.3),
            "country": ["US"] * k, "state": ["CO"] * k,
            "city": _words(rng, k, "City"),
            "address": _maybe_null(rng, _words(rng, k, "Oak Ave"), 0.2),
            "zip_code": [f"{80000 + i % 999}" for i in ids],
            "website": _maybe_null(rng, [f"https://{table}{i}.example.com"
                                         for i in ids], 0.3),
        }
        if table == "vendors":
            cols.update({
                "mmjvenu_id": _maybe_null(rng, [f"V{i}" for i in ids], 0.5),
                "liscense_no": _maybe_null(rng, [f"L{i}" for i in ids], 0.3),
                "confirmed": rng.integers(0, 2, k).astype(np.int32)})
        else:
            cols.update({
                "created_at": _ts(rng, k), "updated_at": _ts(rng, k),
                "license_no": _maybe_null(rng, [f"L{i}" for i in ids], 0.3)})
        _write(_mmj_table(table, cols), os.path.join(out, f"{table}.parquet"))
        for di, c in zip(disp_ids, counts):
            expected[int(di)][table] = int(c)

    # products: ~1 menu item per 8 members, a seeded share on hold
    cat_ids = np.arange(100, 100 + len(CATEGORY_NAMES), dtype=np.int64)
    _write(_mmj_table("categories", {
        "id": cat_ids, "name": list(CATEGORY_NAMES),
        "measurement": rng.integers(1, 3, len(cat_ids)).astype(np.int32),
        "dispensary_id": np.zeros(len(cat_ids), dtype=np.int64),
    }), os.path.join(out, "categories.parquet"))
    n_items = np.maximum(3, sizes // 8)
    mi_disp = np.repeat(disp_ids, n_items)
    k = len(mi_disp)
    mi_id = np.arange(1, k + 1, dtype=np.int64)
    on_hold = (rng.random(k) < 0.7).astype(np.int32)
    _write(_mmj_table("menu_items", {
        "id": mi_id, "vendor_id": rng.integers(1, 100, k),
        "menu_id": rng.integers(1, 10, k), "dispensary_id": mi_disp,
        "strain_id": _maybe_null(rng, rng.integers(1, 500, k), 0.4),
        "created_at": _ts(rng, k), "updated_at": _ts(rng, k),
        "category_id": rng.choice(cat_ids, k),
        "name": _words(rng, k, "Strain"),
        "sativa": rng.integers(0, 100, k).astype(np.int32),
        "indica": rng.integers(0, 100, k).astype(np.int32),
        "on_hold": on_hold,
        "product_type": rng.integers(1, 3, k).astype(np.int32),
        "image_file_name": _maybe_null(rng, [f"i{i}.png" for i in mi_id],
                                       0.4),
        "medicine_amount": np.round(rng.random(k) * 28, 1),
    }), os.path.join(out, "menu_items.parquet"))
    priced = mi_id[rng.random(k) < 0.8]
    kp = len(priced)
    _write(_mmj_table("menu_item_prices", {
        "id": np.arange(1, kp + 1, dtype=np.int64), "menu_item_id": priced,
        "dispensary_id": mi_disp[priced - 1], **_prices(rng, kp),
    }), os.path.join(out, "menu_item_prices.parquet"))
    _write(_mmj_table("menu_item_weedmaps_integrations", {
        "menu_item_id": mi_id[rng.random(k) < 0.3],
    }), os.path.join(out, "menu_item_weedmaps_integrations.parquet"))

    # settings: dispensary_details (some dispensaries carry two rows),
    # memberships + prices, red flags, taxes
    nd = len(disp_ids)
    dd_disp = np.concatenate([disp_ids, disp_ids[rng.random(nd) < 0.25]])
    kd = len(dd_disp)
    _write(_mmj_table("dispensary_details", {
        "id": np.arange(1, kd + 1, dtype=np.int64), "dispensary_id": dd_disp,
        "menu_show_tax": rng.integers(0, 2, kd).astype(np.int32),
        "logo_file_name": _maybe_null(rng, [f"logo{i}.png"
                                            for i in range(kd)], 0.3),
        "inactivity_logout": rng.integers(5, 60, kd).astype(np.int32),
        "calculate_even_totals": rng.integers(0, 2, kd).astype(np.int32),
        "require_customer_referrer": rng.integers(0, 2, kd).astype(np.int32),
        "membership_fee_enabled": rng.integers(0, 2, kd).astype(np.int32),
        "pp_enabled": rng.integers(0, 2, kd).astype(np.int32),
        "pp_global_dollars_to_points": np.round(rng.random(kd) * 10, 2),
        "pp_global_points_to_dollars": np.round(rng.random(kd), 2),
        "pp_points_per_referral": np.round(rng.random(kd) * 100, 0),
        "allow_unpaid_visits": rng.integers(0, 2, kd).astype(np.int32),
        "red_flags_enabled": rng.integers(0, 2, kd).astype(np.int32),
        "mmjrevu_api_key": _maybe_null(rng, [f"key{i}" for i in range(kd)],
                                       0.3),
        "grams_hold_at": np.round(rng.random(kd) * 100, 1),
        "units_hold_at": np.round(rng.random(kd) * 50, 1),
    }), os.path.join(out, "dispensary_details.parquet"))
    ms_disp = np.repeat(disp_ids, 3)
    ms_id = np.arange(1, len(ms_disp) + 1, dtype=np.int64)
    _write(_mmj_table("memberships", {"id": ms_id, "dispensary_id": ms_disp}),
           os.path.join(out, "memberships.parquet"))
    km = len(ms_id)
    _write(_mmj_table("membership_prices", {
        "id": np.arange(1, km + 1, dtype=np.int64), "membership_id": ms_id,
        **_prices(rng, km),
    }), os.path.join(out, "membership_prices.parquet"))
    rf_disp = disp_ids[rng.random(nd) < 0.8]
    kr = len(rf_disp)
    _write(_mmj_table("red_flags", {
        "dispensary_id": rf_disp,
        "daily_purchase_limit": np.round(rng.random(kr) * 100, 0),
        "visit_purchase_limit": np.round(rng.random(kr) * 50, 0),
        "daily_visit_limit": np.round(rng.random(kr) * 5, 0),
        "two_week_purchase_limit": np.round(rng.random(kr) * 500, 0),
    }), os.path.join(out, "red_flags.parquet"))
    tx_disp = np.repeat(disp_ids, rng.integers(1, 3, nd))
    kt = len(tx_disp)
    _write(_mmj_table("taxes", {
        "dispensary_id": tx_disp,
        "amount": np.round(rng.random(kt) * 10, 2),
        "name": [f"TAX{i % 3}" for i in range(kt)],
    }), os.path.join(out, "taxes.parquet"))

    for di, size, ne in zip(disp_ids, sizes, n_emp):
        d = int(di)
        expected[d]["members"] = int(size)
        expected[d]["employees"] = int(ne)
        expected[d]["products"] = int(on_hold[mi_disp == di].sum())
        expected[d]["settings"] = 1
    return expected


# ---------------------------------------------------------------------------
# TPC-H-ish facts

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PART_ADJ = ("blue", "hot", "small", "old", "cold", "red", "new", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate",
              "gizmo")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_VOCAB = ("join", "hash", "row", "batch", "scan", "column", "customer",
          "filter", "small", "slow", "merge", "order", "vector", "line",
          "table", "data", "agg", "value", "key", "stream", "window", "a",
          "spark", "part", "group", "big", "sort", "query", "fast", "the")
_LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")


def _naive_ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def gen_facts(out: str, seed: int) -> dict:
    """Write the ten catalog tables at scale factor 0.001 (rows per table
    as in the sf-scaled test data) and return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    sf, n_documents, n_embeddings = 0.001, 500, 500
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      1)}),
    }
    day0 = np.datetime64("1995-01-01", "D")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _naive_ts(day0 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    linenumber = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):
        if li_order[i] == li_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    li_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    retail = 900 + (li_part % 1000) / 10
    tables["lineitem"] = pa.table({
        "l_orderkey": li_order.astype(np.int64), "l_partkey": li_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": linenumber, "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail * rng.uniform(0.5, 1.5, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _naive_ts(day0 + 1 + rng.integers(0, 2497, n_li))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, n_ev)
                    .astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _naive_ts(ev_ts),
        "user_id": rng.integers(0, max(50, n_ev // 66), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 91)))
             for _ in range(n_documents)]
    # a seeded share of near-duplicates so the dedup queries find pairs
    for i in np.flatnonzero(rng.random(n_documents) < 0.05):
        words = texts[int(rng.integers(0, n_documents))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_documents, dtype=np.int64), "text": texts,
        "lang": rng.choice(_LANGS, n_documents),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_embeddings)
    vecs = centers[labels] + rng.normal(0, 1.0, (n_embeddings, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def split_events(facts_dir: str, out: str, seed: int,
                 n_files: int = 6) -> dict:
    """Split the facts' events into `n_files` time-ordered parquet files.

    A seeded share of events is emitted one or two files later than its
    timestamp puts it (late) and another share is emitted a second time,
    in the same or the next file (duplicate). Files get increasing
    modification times, which is the order a file stream source reads
    them in. Returns counts the stream checks use."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3, n_files])
    ev = pq.read_table(os.path.join(facts_dir, "events.parquet"))
    n = ev.num_rows
    part = np.arange(n) * n_files // n
    late = (rng.random(n) < 0.03) & (part < n_files - 1)
    part = np.where(late, np.minimum(n_files - 1,
                                     part + rng.integers(1, 3, n)), part)
    dup = np.flatnonzero(rng.random(n) < 0.03)
    dup_part = np.minimum(n_files - 1,
                          part[dup] + rng.integers(0, 2, len(dup)))
    rows = np.concatenate([np.arange(n), dup])
    parts = np.concatenate([part, dup_part])
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev.column("ts").cast(UTC_US))
    mtime = 1_700_000_000
    for p in range(n_files):
        path = os.path.join(out, f"events-{p:04d}.parquet")
        _write(ev.take(pa.array(np.sort(rows[parts == p]))), path)
        os.utime(path, (mtime + p, mtime + p))
    return {"events": int(n), "rows": int(len(rows)), "files": n_files,
            "late": int(late.sum()), "duplicates": int(len(dup))}
