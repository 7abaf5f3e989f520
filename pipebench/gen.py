"""Seeded benchmark inputs derived from a base scale-factor dir.

An input dir holds every table of the base dir. Dimension tables are
linked as they are. Each fact table becomes a directory of two part
files: the base file, linked, and one seeded part of new rows. The new
rows are copies of a seeded sample of base rows under fresh keys:

- orders, with their lineitems: new order keys;
- events: new event ids;
- documents: new doc ids, each text with one seeded word appended;
- embeddings: new vector ids, each vector with seeded noise added.

The same (seed, salt) gives byte-identical files; another seed gives
other rows.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
# share of base rows copied into the seeded part
SHARE = 0.01


def link(src, dst):
    """Hard-link `src` to `dst`, copying where links are not possible."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def rng_for(seed, salt, table):
    h = hashlib.sha256(f"{seed}/{salt}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def sample(table, rng):
    n = max(1, int(table.num_rows * SHARE))
    idx = np.sort(rng.choice(table.num_rows, size=n, replace=False))
    return table.take(pa.array(idx))


def rekey(table, column, start):
    keys = pa.array(np.arange(start, start + table.num_rows, dtype=np.int64),
                    type=table.schema.field(column).type)
    return table.set_column(table.schema.get_field_index(column), column, keys)


def seeded_parts(base, seed, salt):
    """New rows per fact table for one (seed, salt)."""
    read = lambda t: pq.read_table(f"{base}/{t}.parquet")
    parts = {}

    orders = read("orders")
    lineitem = read("lineitem")
    picked = sample(orders, rng_for(seed, salt, "orders"))
    start = pc.max(orders["o_orderkey"]).as_py() + 1
    new_orders = rekey(picked, "o_orderkey", start)
    remap = dict(zip(picked["o_orderkey"].to_pylist(),
                     new_orders["o_orderkey"].to_pylist()))
    items = lineitem.filter(pc.is_in(lineitem["l_orderkey"],
                                     value_set=picked["o_orderkey"]))
    keys = pa.array([remap[k] for k in items["l_orderkey"].to_pylist()],
                    type=lineitem.schema.field("l_orderkey").type)
    parts["orders"] = new_orders
    parts["lineitem"] = items.set_column(0, "l_orderkey", keys)

    events = read("events")
    parts["events"] = rekey(sample(events, rng_for(seed, salt, "events")),
                            "event_id", pc.max(events["event_id"]).as_py() + 1)

    docs = read("documents")
    rng = rng_for(seed, salt, "documents")
    new_docs = rekey(sample(docs, rng), "doc_id",
                     pc.max(docs["doc_id"]).as_py() + 1)
    words = [f"w{w:x}" for w in rng.integers(0, 1 << 20, new_docs.num_rows)]
    text = [t + " " + w for t, w in zip(new_docs["text"].to_pylist(), words)]
    new_docs = new_docs.set_column(
        new_docs.schema.get_field_index("text"), "text",
        pa.array(text, type=new_docs.schema.field("text").type))
    new_docs = new_docs.set_column(
        new_docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in text],
                 type=new_docs.schema.field("n_chars").type))
    parts["documents"] = new_docs

    emb = read("embeddings")
    rng = rng_for(seed, salt, "embeddings")
    new_emb = rekey(sample(emb, rng), "vec_id",
                    pc.max(emb["vec_id"]).as_py() + 1)
    vecs = np.array(new_emb["embedding"].to_pylist(), dtype=np.float32)
    vecs = vecs + rng.normal(0, 0.01, vecs.shape).astype(np.float32)
    new_emb = new_emb.set_column(
        new_emb.schema.get_field_index("embedding"), "embedding",
        pa.array(list(vecs), type=new_emb.schema.field("embedding").type))
    parts["embeddings"] = new_emb
    return parts


def make_dir(base, out, seed, salt):
    """Write one seeded input dir at `out` (replacing what is there)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in DIMENSIONS:
        link(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    for t, rows in seeded_parts(base, seed, salt).items():
        os.makedirs(f"{out}/{t}.parquet")
        link(f"{base}/{t}.parquet", f"{out}/{t}.parquet/part-00000.parquet")
        pq.write_table(rows, f"{out}/{t}.parquet/part-00001.parquet")


def files(d):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs)


def digest(d):
    """Content digest of an input dir: relative names and bytes."""
    h = hashlib.sha256()
    for f in files(d):
        h.update(os.path.relpath(f, d).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def size(d):
    return sum(os.path.getsize(f) for f in files(d))
