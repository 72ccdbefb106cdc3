"""Seeded benchmark inputs, sampled from the repository's sf0.1 test drop.

Two shapes, each cached per seed under `.bench_data/` in the checkout:

* `load`: the `etl_load` input. Half of the drop's users (with their
  whole event traces) and half of its customers (with their orders and
  line items), each table split in seeded row order into PARTS parquet
  parts, so scans have more splits than cores.
* `drop`: the `heavy_batch` input. The tables it reads as single parquet
  files, like the source drop, at a tenth of their size: users (whole
  event traces), suppliers, documents and embedding vectors.

The same seed always gives the same files. Seeds change which users,
customers, suppliers, documents and vectors are drawn; the draw sizes
are fixed.
"""
import json
import os
import re
import shutil

import duckdb
import pyarrow.parquet as pq

SHAPES = {
    "load": {"fraction": 0.5, "parts": 8, "tables": ["events", "orders", "customer", "lineitem"]},
    "drop": {"fraction": 0.1, "parts": 1, "tables": ["events", "supplier", "documents", "embeddings"]},
}
# tables drawn by their own key; the rest follow: events their users,
# orders their customers, lineitem its orders
DRAWN = {"customer": "c_custkey", "supplier": "s_suppkey", "documents": "doc_id", "embeddings": "vec_id"}


def source_dir(root):
    """The sf0.1 drop: $PERFBENCH_SOURCE, else the directory TESTDATA.md
    lists for scale factor 0.1."""
    if os.environ.get("PERFBENCH_SOURCE"):
        return os.environ["PERFBENCH_SOURCE"]
    doc = os.path.join(root, "TESTDATA.md")
    if os.path.exists(doc):
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        if m:
            return m.group(1).rstrip("/")
    raise SystemExit("perfbench: no sf0.1 source drop (set PERFBENCH_SOURCE)")


def _queries(con, tables, fraction, seed):
    """Table -> SQL drawing its rows for this seed."""
    def draw(sql_keys, key):
        n = round(fraction * con.execute(f"SELECT count(*) FROM ({sql_keys})").fetchone()[0])
        return f"SELECT {key} FROM ({sql_keys}) ORDER BY hash({key}, {seed}), {key} LIMIT {n}"

    con.execute("CREATE TEMP TABLE keep_users AS "
                + draw("SELECT DISTINCT user_id FROM src_events", "user_id"))
    for t, key in DRAWN.items():
        if t in tables:
            con.execute(f"CREATE TEMP TABLE keep_{t} AS " + draw(f"SELECT {key} FROM src_{t}", key))
    # ORDER BY ALL: a total order, so the same seed writes the same bytes
    q = {t: f"SELECT * FROM src_{t} WHERE {k} IN (SELECT {k} FROM keep_{t}) ORDER BY ALL"
         for t, k in DRAWN.items() if t in tables}
    q["events"] = "SELECT * FROM src_events WHERE user_id IN (SELECT user_id FROM keep_users) ORDER BY ALL"
    q["orders"] = ("SELECT * FROM src_orders WHERE o_custkey IN (SELECT c_custkey FROM keep_customer) "
                   "ORDER BY ALL")
    q["lineitem"] = ("SELECT * FROM src_lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM src_orders "
                     "WHERE o_custkey IN (SELECT c_custkey FROM keep_customer)) ORDER BY ALL")
    return {t: q[t] for t in tables}


def generate(root, cache, shape, seed):
    """Returns (dir, {table: {rows, bytes, files}}) for `shape` and `seed`,
    building it on first use."""
    spec = SHAPES[shape]
    out = os.path.join(cache, f"{shape}-seed{seed}")
    stamp = os.path.join(out, "_sizes.json")
    if os.path.exists(stamp):
        return out, json.load(open(stamp))
    src = source_dir(root)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in set(spec["tables"]) | {"events"}:
        con.execute(f"CREATE TABLE src_{t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    sizes = {}
    parts = spec["parts"]
    for t, sql in _queries(con, spec["tables"], spec["fraction"], int(seed)).items():
        # the source's exact arrow schema: timestamp units and zone flags
        table = con.execute(sql).arrow().cast(pq.read_schema(f"{src}/{t}.parquet"))
        path = os.path.join(tmp, f"{t}.parquet")
        if parts == 1:
            files = [path]
            pq.write_table(table, path)
        else:
            os.makedirs(path)
            order = con.execute(f"SELECT hash(range, {int(seed)}) AS h FROM range({table.num_rows})").arrow()
            table = table.take(order.column("h").to_numpy().argsort(kind="stable"))
            step = -(-table.num_rows // parts)
            files = [os.path.join(path, f"part-{p:03d}.parquet") for p in range(parts)]
            for p, f in enumerate(files):
                pq.write_table(table.slice(p * step, step), f)
        sizes[t] = {"rows": table.num_rows, "bytes": sum(os.path.getsize(f) for f in files),
                    "files": len(files)}
    json.dump(sizes, open(os.path.join(tmp, "_sizes.json"), "w"), indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, sizes
