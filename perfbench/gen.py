"""Seeded input generators for the benchmark.

Two input families, both written as parquet under a work directory:

- ``write_star(out_dir, sf, seed)``: the TPC-H-ish star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables that the registered
  queries read (same table names, column names, dtypes and value domains as
  the repository's test data). Row counts depend on ``sf`` only; the seed
  moves values, never sizes, so every seed costs the same amount of work.
- ``write_aci(work, seed, tiles)``: the ACI-domain catalog, built by
  key-shifted tiling of ``tests/aci_fixtures.build_fixtures``, and a
  mutated copy. Person-keyed tables are tiled; dimension tables (clubs,
  regions, taxonomy, merge-field schemas) are shared. The mutation applies
  a fixed number of updates, inserts and deletes at seeded positions.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table({k: pa.array(v, type=schema.field(k).type) for k, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "event_users": int(15_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def write_star(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table of ``aci_export_spark.sources.TEST_TABLES``.

    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = star_sizes(sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {"r_regionkey": range(5), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": range(25),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": [k % 5 for k in range(25)],
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    npart = n["part"]
    keys = np.arange(npart)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))

    ne = n["events"]
    # a 30-day stream with exponential inter-arrival gaps, rescaled so the
    # span is the same for every seed
    gaps = rng.exponential(1.0, ne)
    offs_us = (np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(ne),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["event_users"], ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))

    nd = n["documents"]
    texts: list[str] = []
    for d in range(nd):
        # every 20th document after the first few is a near-duplicate of an
        # earlier one: the same text plus a trailing marker token
        if d >= 10 and d % 20 == 7:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = rng.normal(size=(nv, EMBED_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv),
        "embedding": list(vecs),
        "label": labels,
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
    return {k: v for k, v in n.items() if k != "event_users"} | {"region": 5, "nation": 25}


# ---------------------------------------------------------------------------
# ACI catalog
# ---------------------------------------------------------------------------

#: tables that carry a person key and are copied once per tile
PERSON_TABLES = (
    "users", "member_search", "membership_paragraphs", "leadership", "addresses",
    "brns", "brn_numbers", "airstreams", "mailchimp_audience", "user_roles",
    "microsite_links",
)
#: person-key columns per tiled table
PERSON_COLS = {
    "users": ("uid",),
    "member_search": ("user_id", "partner_user_id"),
    "membership_paragraphs": ("parent_id",),
    "leadership": ("user_uid", "member_uid"),
    "addresses": ("user_uid",),
    "brns": ("user_id",),
    "brn_numbers": ("user_id",),
    "airstreams": ("user_id",),
    "user_roles": ("user_uid",),
    "microsite_links": ("user_uid",),
}
#: row-id columns that must stay unique across tiles
ROW_ID_COLS = {
    "membership_paragraphs": ("paragraph_id",),
    "addresses": ("paragraph_id",),
    "airstreams": ("airstream_id", "paragraph_id"),
}
EMAIL_COLS = {
    "users": ("mail",),
    "member_search": ("email", "partner_email"),
    "mailchimp_audience": ("email_address",),
}
#: mutation sizes, per tile (fixed, so every seed does the same work)
N_UPDATE, N_INSERT, N_DELETE = 3, 2, 2


def _shift_email(v, tile: int):
    if not isinstance(v, str) or "@" not in v:
        return v
    local, dom = v.split("@", 1)
    return f"{local}.t{tile}@{dom}"


def _mc_id(email: str) -> str:
    import hashlib

    return hashlib.md5(email.lower().strip().encode()).hexdigest()


def tile_catalog(base: dict[str, pd.DataFrame], seed: int, tiles: int) -> dict[str, pd.DataFrame]:
    """Key-shifted tiling: tile t shifts every person key by a seeded stride
    and tags every email with ``.t<t>`` so tiles never collide; dimension
    tables are shared. Row order within each table is a seeded shuffle."""
    rng = np.random.default_rng(seed)
    stride = 10_000 * (1 + int(rng.integers(0, 50)))
    out: dict[str, pd.DataFrame] = {}
    for name, df in base.items():
        if name not in PERSON_TABLES:
            out[name] = df.copy()
            continue
        parts = []
        for t in range(tiles):
            p = df.copy()
            for c in PERSON_COLS.get(name, ()):
                p[c] = p[c] + t * stride
            for c in ROW_ID_COLS.get(name, ()):
                p[c] = p[c] + t * stride
            for c in EMAIL_COLS.get(name, ()):
                p[c] = p[c].map(lambda v, t=t: _shift_email(v, t))
            if name == "mailchimp_audience":
                p["id"] = p["email_address"].map(_mc_id)
            parts.append(p)
        cat = pd.concat(parts, ignore_index=True)
        out[name] = cat.iloc[rng.permutation(len(cat))].reset_index(drop=True)
    return out


def current_plain_members(cat: dict[str, pd.DataFrame]) -> set[int]:
    """Primaries with a current status, a deliverable email, no partner link
    either way and an open home-club membership: the rows the mutation
    touches, so its sizes stay fixed whichever rows the seed picks."""
    s = cat["member_search"]
    p = cat["membership_paragraphs"]
    partnered = set(s["partner_user_id"].dropna().astype(int))
    email = s["email"].fillna("").str.strip().str.lower()
    ok = (
        s["personal_status_id"].isin(["947", "1099"]) & s["partner_user_id"].isna()
        & ~s["user_id"].isin(partnered) & email.str.contains("@")
        & ~email.str.endswith(("noemail.com", "example.com"))
    )
    open_home = p[(p["ptype"] == "membership") & (p["status"] == 1) & p["join_date"].notna()
                  & (p["join_date"] <= "2026-01-01") & p["leave_date"].isna()
                  & (p["link_kind"] == "field_home_club")]
    return set(s[ok]["user_id"]) & set(open_home["parent_id"])


def mutate_catalog(cat: dict[str, pd.DataFrame], seed: int, tiles: int) -> dict[str, pd.DataFrame]:
    """Seeded mutation with fixed sizes: per tile, N_UPDATE users get a new
    last name (source and search view), N_DELETE primaries leave (their
    search row and membership paragraphs go), and N_INSERT new members
    join as copies of existing primaries with fresh keys and emails."""
    rng = np.random.default_rng(seed + 7919)
    out = {k: v.copy() for k, v in cat.items()}
    search = out["member_search"]
    plain = search[search["user_id"].isin(current_plain_members(out))]
    pick = rng.choice(plain["user_id"].to_numpy(), tiles * (N_UPDATE + N_DELETE), replace=False)
    upd, dele = pick[: tiles * N_UPDATE], pick[tiles * N_UPDATE:]

    users = out["users"]
    users.loc[users["uid"].isin(upd), "last_name"] = users.loc[users["uid"].isin(upd), "last_name"] + "-m"
    search.loc[search["user_id"].isin(upd), "last_name"] = (
        search.loc[search["user_id"].isin(upd), "last_name"] + "-m"
    )
    search = search[~search["user_id"].isin(dele)]
    paras = out["membership_paragraphs"]
    paras = paras[~paras["parent_id"].isin(dele)]

    src = rng.choice(plain[~plain["user_id"].isin(pick)]["user_id"].to_numpy(), tiles * N_INSERT, replace=False)
    new_uid0 = int(max(users["uid"].max(), search["user_id"].max())) + 1
    new_pid0 = int(paras["paragraph_id"].max()) + 1
    add_u, add_s, add_p = [], [], []
    for i, old in enumerate(src):
        uid = new_uid0 + i
        email = f"joiner{uid}@mail.test"
        u = users[users["uid"] == old].iloc[0].copy()
        u["uid"], u["mail"] = uid, email
        add_u.append(u)
        srow = search[search["user_id"] == old].iloc[0].copy()
        srow["user_id"], srow["email"] = uid, email
        add_s.append(srow)
        for j, (_, prow) in enumerate(paras[paras["parent_id"] == old].iterrows()):
            prow = prow.copy()
            prow["parent_id"] = uid
            prow["paragraph_id"] = new_pid0 + i * 100 + j
            add_p.append(prow)
    out["users"] = pd.concat([users, pd.DataFrame(add_u)], ignore_index=True)
    out["member_search"] = pd.concat([search, pd.DataFrame(add_s)], ignore_index=True)
    out["membership_paragraphs"] = pd.concat([paras, pd.DataFrame(add_p)], ignore_index=True)
    return out


def write_catalog(cat: dict[str, pd.DataFrame], out_dir: str, like: dict[str, pd.DataFrame]) -> None:
    """Write with the base fixture's column dtypes so Spark and DuckDB see
    the same schema in every tile and after mutation."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in cat.items():
        schema = pa.Schema.from_pandas(like[name], preserve_index=False)
        table = pa.Table.from_pandas(df[like[name].columns], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_aci(work: str, seed: int, tiles: int) -> tuple[str, str, dict, dict]:
    """Build the base fixture, tile it, mutate the tiled copy, and write
    both catalogs. Returns (catalog_dir, mutated_dir, catalog, mutated)."""
    from tests.aci_fixtures import build_fixtures

    base = build_fixtures(os.path.join(work, "aci_base"))
    cat = tile_catalog(base, seed, tiles)
    mut = mutate_catalog(cat, seed, tiles)
    cat_dir, mut_dir = os.path.join(work, "aci_v1"), os.path.join(work, "aci_v2")
    write_catalog(cat, cat_dir, base)
    write_catalog(mut, mut_dir, base)
    return cat_dir, mut_dir, cat, mut
