"""Input generators for the benchmark.

`base` writes an sf0.1-shaped copy of the catalog's ten tables (the
schemas and value ranges of FIXTURES.md, the row counts of sf0.1) from a
fixed seed; `interactive_sf01` and `store_lifecycle` read it.

`x10` writes the `workbound_x10` input from `base` with DuckDB: ten
replicas of every keyed table, each replica's keys shifted by a seeded
offset, rows in a seeded order, plus one block of embeddings that
overflows one semantic-dedup cell (more than 2,048 members), so that
query takes its salted sub-cell path.

Both are deterministic: the same seed gives byte-identical files
(`x10` writes in a total order, which DuckDB's parquet writer keeps).
"""
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# sf0.1 row counts
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
REPLICAS = 10
# Key columns of each replicated table, by the table whose key they hold.
# A replica shifts every key column by the offset of the owning table,
# so joins stay inside their replica and keys stay unique.
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
# The skew block: SKEW_CELL members, more than q_vec_semdedup's 2,048-member
# cell bound. q_vec_semdedup seeds its k-means with the vectors whose
# vec_id is a multiple of CELL_STRIDE; the block surrounds one such seed
# vector, each member offset by noise of squared norm SKEW_NOISE. Members
# then lie much nearer that seed than any other, so they share its cell,
# while their pairwise cosine (about 1 / (1 + SKEW_NOISE) = 0.87) stays
# under the query's 0.94 pre-filter, so the cell costs pair generation,
# not exact scoring.
SKEW_CELL = 2_100
SKEW_NOISE = 0.15
CELL_STRIDE = 64
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def base(out, seed=BASE_SEED, scale=1.0):
    """Writes the ten sf0.1-shaped tables to `out`; `scale` shrinks the
    row counts (tests use a small base)."""
    rng = np.random.default_rng(seed)
    rows = {t: max(10, int(n * scale)) for t, n in ROWS.items()}
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out}/nation.parquet")

    n = rows["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)}),
        f"{out}/customer.parquet")

    n = rows["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)}),
        f"{out}/supplier.parquet")

    n = rows["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")

    n = rows["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)}),
        f"{out}/orders.parquet")

    n = rows["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)}),
        f"{out}/lineitem.parquet")

    n = rows["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}),
        f"{out}/events.parquet")

    n = rows["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(8, 101, n)]
    # a few exact duplicates, so the dedup queries have work to keep
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[(i + 1) % n]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n,
                           p=[0.14, 0.42, 0.15, 0.14, 0.15]),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")

    n = rows["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(scale=2.0, size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, i32)}),
        f"{out}/embeddings.parquet")


def offsets(seed, con, src):
    """Per table, the key offset of each replica: a seeded permutation of
    strides, each stride past the table's largest key, plus a seeded
    shift. Replica r of table t adds offsets[t][r] to t's keys."""
    rng = np.random.default_rng(seed)
    out = {}
    for t, keys in KEYS.items():
        own = [k for k, owner in keys.items() if owner == t]
        if not own:
            continue
        top = con.execute(f"SELECT max({own[0]}) FROM read_parquet('{src}/{t}.parquet')"
                          ).fetchone()[0]
        stride = int(top) + 1 + int(rng.integers(0, 1000))
        shift = int(rng.integers(0, 1000))
        out[t] = [shift + stride * int(p) for p in rng.permutation(REPLICAS)]
    return out


def skew_block(con, replicas_sql, seed):
    """The skew block around a seeded k-means seed vector of the x10
    embeddings (`replicas_sql` selects their replicas). Block ids start
    past every id that can seed a centroid."""
    n = con.execute(f"SELECT count(*) FROM ({replicas_sql})").fetchone()[0] + SKEW_CELL
    seeds = con.execute(
        f"SELECT vec_id, embedding, label FROM ({replicas_sql}) "
        f"WHERE vec_id % {CELL_STRIDE} = 0 AND vec_id < {CELL_STRIDE * (n // CELL_STRIDE - 1)} "
        f"ORDER BY vec_id").fetchall()
    rng = np.random.default_rng(seed)
    _, centre, label = seeds[int(rng.integers(0, len(seeds)))]
    centre = np.asarray(centre, dtype=np.float64)
    v = centre + rng.normal(scale=np.sqrt(SKEW_NOISE / centre.size),
                            size=(SKEW_CELL, centre.size))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    first = CELL_STRIDE * (n + CELL_STRIDE)
    return pa.table({
        "vec_id": pa.array(first + np.arange(SKEW_CELL), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np.full(SKEW_CELL, label), pa.int32())})


def x10(src, out, seed):
    """Writes the `workbound_x10` tables to `out` from the base at `src`."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    off = offsets(seed, con, src)
    for t in ("region", "nation"):
        shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    for t, keys in KEYS.items():
        cols = [c for c, in con.execute(
            f"SELECT column_name FROM (DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet'))"
        ).fetchall()]
        src_t = f"read_parquet('{src}/{t}.parquet', file_row_number = true)"
        parts = []
        for r in range(REPLICAS):
            sel = ", ".join(f"{c} + {off[keys[c]][r]} AS {c}" if c in keys else c
                            for c in cols)
            parts.append(f"SELECT {sel}, hash({r}, file_row_number, {int(seed)}) AS _o, "
                         f"{r} AS _r, file_row_number AS _n "
                         f"FROM {src_t}")
        if t == "embeddings":
            con.register("skew", skew_block(con, " UNION ALL ".join(parts), seed))
            parts.append(f"SELECT vec_id, embedding, label, hash({REPLICAS}, vec_id, {int(seed)}) "
                         f"AS _o, {REPLICAS} AS _r, vec_id AS _n FROM skew")
        # seeded row order; (replica, base row) breaks hash ties, so the
        # order is total
        con.execute(
            f"COPY (SELECT {', '.join(cols)} FROM ({' UNION ALL '.join(parts)}) "
            f"ORDER BY _o, _r, _n) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)")
    con.close()

