"""Seeded input generator for the benchmark's workloads.

The same seed gives byte-identical inputs; two seeds give inputs of the same
shape with different content. Table shapes follow the engine's TPC-H-ish
star schema plus the events, documents and embeddings tables its queries
read (column names, types, cardinalities and value ranges); `sf` scales row
counts the way the shipped scale factors do. run.py calls `generate`.
"""

import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import config

UTC_US = pa.timestamp("us", tz="UTC")
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000

VOCAB = np.array(["spark", "window", "merge", "table", "column", "vector",
                  "stream", "value", "data", "small", "join", "filter", "big",
                  "group", "hash", "customer", "sort", "order", "slow", "line",
                  "part", "fast", "row", "the", "agg", "key", "query", "a",
                  "scan", "batch"])


def rng(seed, tag):
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def pick(r, options, n):
    return np.array(options)[r.integers(0, len(options), n)]


def money(r, lo, hi, n):
    return np.round(lo + r.random(n) * (hi - lo), 2)


def write(path, columns, files=1):
    """Writes one parquet file, or a directory of `files` row slices."""
    table = pa.table(columns)
    if files == 1:
        pq.write_table(table, path)
        return
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


def region():
    return {"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def nation():
    k = np.arange(25)
    return {"n_nationkey": pa.array(k, pa.int32()),
            "n_name": [f"NATION_{i}" for i in k],
            "n_regionkey": pa.array(k % 5, pa.int32())}


def customer(seed, n):
    r = rng(seed, "customer")
    return {"c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": money(r, -999.99, 9999.99, n),
            "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"], n)}


def supplier(seed, n):
    r = rng(seed, "supplier")
    return {"s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": money(r, -999.99, 9999.99, n)}


def part(seed, n):
    r = rng(seed, "part")
    adj = pick(r, ["large", "hot", "blue", "small", "red", "dark", "green", "cold"], n)
    noun = pick(r, ["ring", "bolt", "nut", "screw", "pipe", "gear", "wire", "plate"], n)
    k = np.arange(n)
    return {"p_partkey": pa.array(k, pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
            "p_type": pick(r, ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                               "MEDIUM"], n),
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2)}


def days(r, start_us, span, n):
    return pa.array(start_us + r.integers(0, span + 1, n) * DAY_US, UTC_US)


def orders(seed, n, customers):
    r = rng(seed, "orders")
    return {"o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, customers, n), pa.int64()),
            "o_orderstatus": pick(r, ["O", "F", "P"], n),
            "o_totalprice": money(r, 1000.0, 500000.0, n),
            "o_orderdate": days(r, EPOCH_1995, 2403, n),
            "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"], n)}


def lineitem(seed, n, orders_n, parts, suppliers):
    r = rng(seed, "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    return {"l_orderkey": pa.array(r.integers(0, orders_n, n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, parts, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, suppliers, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + r.random(n) * 1200.0), 2),
            "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": pick(r, ["A", "N", "R"], n),
            "l_linestatus": pick(r, ["O", "F"], n),
            "l_shipdate": days(r, EPOCH_1995 + DAY_US, 2498, n)}


def events(seed, n, users):
    """One event every ~30 days / n, monotone in event_id."""
    r = rng(seed, "events")
    step = 30 * DAY_US // n
    ids = np.arange(n)
    return {"event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(EPOCH_2024 + ids * step + r.integers(0, step, n), UTC_US),
            "user_id": pa.array(r.integers(0, users, n), pa.int64()),
            "event_type": pick(r, ["view", "click", "purchase", "signup", "error"], n),
            "value": np.round(-np.log1p(-r.random(n)) * 50.0, 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}


def documents(seed, n):
    """Texts over the tiny vocabulary; ~5% are near-duplicates of an earlier
    document (one token replaced, " dup" appended), which is what the
    dedup, LSH and containment queries find."""
    r = rng(seed, "documents")
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            words = texts[r.integers(0, i)].split(" ")
            words[r.integers(0, min(10, len(words)))] = VOCAB[r.integers(0, 30)]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(VOCAB[r.integers(0, 30, r.integers(10, 101))]))
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pick(r, ["en", "en", "en", "zh", "es", "fr", "de"], n),
            "source": np.char.add("src", r.integers(0, 20, n).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def embeddings(seed, n, dims=64):
    """Unit-norm float vectors with a weak per-label bias."""
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n)
    bias = (r.random((10, dims)) - 0.5) * 0.6
    v = r.standard_normal((n, dims)) + bias[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


def star_schema(seed, out, sf):
    """The star-schema tables of a scale directory (what the RDF queries read)."""
    def n(base):
        return max(1, round(base * sf))
    cust, supp, parts, ords = n(150000), n(10000), n(200000), n(1500000)
    out.mkdir(parents=True, exist_ok=True)
    write(out / "region.parquet", region())
    write(out / "nation.parquet", nation())
    write(out / "customer.parquet", customer(seed, cust))
    write(out / "supplier.parquet", supplier(seed, supp))
    write(out / "part.parquet", part(seed, parts))
    write(out / "orders.parquet", orders(seed, ords, cust))
    write(out / "lineitem.parquet", lineitem(seed, n(6000000), ords, parts, supp))


STOPWORD_KEEP = re.compile(r"\b(?!(?:the|a|of|and)\b)(\S+)")


def corpus(seed, out, sf, mult):
    """An N-fold documents/embeddings/events corpus, built the way
    graft.ScaleProbe.multiply builds one: replica r > 0 suffixes every
    non-stopword token with z<r> (no cross-replica near-duplicates, same
    quality signals), rotates each vector by r % 8 + 1 places (same norms,
    decorrelated cosines), offsets ids and suffixes event props."""
    out.mkdir(parents=True, exist_ok=True)
    docs = documents(seed, round(50000 * sf))
    vecs = embeddings(seed, round(20000 * sf))
    evs = events(seed, round(1000000 * sf), round(15000 * sf))
    d_ids = np.asarray(docs["doc_id"])
    v_ids = np.asarray(vecs["vec_id"])
    e_ids, users = np.asarray(evs["event_id"]), np.asarray(evs["user_id"])
    dims = len(vecs["embedding"][0])
    mat = np.stack(vecs["embedding"].to_numpy(zero_copy_only=False))
    doc_parts, vec_parts, ev_parts = [], [], []
    for rep in range(mult):
        texts = docs["text"] if rep == 0 else [
            STOPWORD_KEEP.sub(rf"\1z{rep}", t) for t in docs["text"]]
        doc_parts.append(pa.table({
            "doc_id": pa.array(d_ids + rep * 10_000_000, pa.int64()),
            "text": texts, "lang": docs["lang"], "source": docs["source"],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
        k = 0 if rep == 0 else rep % 8 + 1
        rot = np.concatenate([mat[:, k:], mat[:, :k]], axis=1) if k else mat
        vec_parts.append(pa.table({
            "vec_id": pa.array(v_ids + rep * 10_000_000, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(rot.reshape(-1), pa.float32()), dims).cast(pa.list_(pa.float32())),
            "label": vecs["label"]}))
        ev_parts.append(pa.table({
            "event_id": pa.array(e_ids + rep * 10_000_000, pa.int64()),
            "ts": evs["ts"],
            "user_id": pa.array(users + rep * 1_000_000, pa.int64()),
            "event_type": evs["event_type"], "value": evs["value"],
            "props": evs["props"] if rep == 0 else [p + f" zr{rep}" for p in evs["props"]]}))
    for name, parts in (("documents", doc_parts), ("embeddings", vec_parts),
                        ("events", ev_parts)):
        write(out / f"{name}.parquet", pa.concat_tables(parts).to_pydict(), files=4 * mult)
    # dimension tables, small, so every Tables.* loader resolves
    write(out / "region.parquet", region())
    write(out / "nation.parquet", nation())
    write(out / "customer.parquet", customer(seed, 150))
    write(out / "supplier.parquet", supplier(seed, 10))
    write(out / "part.parquet", part(seed, 200))
    write(out / "orders.parquet", orders(seed, 1500, 150))
    write(out / "lineitem.parquet", lineitem(seed, 6000, 1500, 200, 10))


def geonames_tsv(seed, out, n):
    """GeoNames dump rows: the 19-column TSV layout the reference reads."""
    r = rng(seed, "geonames")
    ids = np.arange(n)
    lat = r.random(n) * 180.0 - 90.0
    lng = r.random(n) * 360.0 - 180.0
    fcode = pick(r, ["PPL", "PPLA", "PPLC", "PPLX"], n)
    cc = pick(r, ["AT", "DE", "CH", "IT", "FR", "CZ"], n)
    a1 = r.integers(1, 10, n)
    pop = r.integers(1000, 2000001, n)
    ele = r.integers(0, 3001, n)
    lines = [f"{i}\tPlace {i}\tPlace{i}\tOrt {i},Lieu {i}\t{la:.5f}\t{lo:.5f}\tP\t{f}\t{c}"
             f"\t\t{a}\t\t\t\t{p}\t{e}\t0\tEurope/Vienna\t2024-01-01\n"
             for i, la, lo, f, c, a, p, e in zip(ids, lat, lng, fcode, cc, a1, pop, ele)]
    out.mkdir(parents=True, exist_ok=True)
    files = 4
    step = -(-n // files)
    for f in range(files):
        (out / f"part-{f:05d}.tsv").write_text("".join(lines[f * step:(f + 1) * step]))


def turtle_pages(seed, out, pages, per_page):
    """Turtle pages, one file per page; each person carries five
    statements (type, label, nation, a blank-node birth and its year)."""
    r = rng(seed, "turtle")
    out.mkdir(parents=True, exist_ok=True)
    for p in range(pages):
        body = ["@prefix ex: <http://example.org/> .\n",
                "@prefix crm: <http://www.cidoc-crm.org/cidoc-crm/> .\n\n"]
        for i in range(per_page):
            pid = p * per_page + i
            body.append(
                f"ex:p{pid} a crm:E21_Person ;\n"
                f'  ex:label "Person {pid}"@de ;\n'
                f"  ex:nation ex:N{r.integers(0, 25)} ;\n"
                f'  ex:born [ ex:year "{1700 + r.integers(0, 300)}"'
                f"^^<http://www.w3.org/2001/XMLSchema#integer> ] .\n\n")
        (out / f"page-{p:05d}.ttl").write_text("".join(body))


def etl_source(seed, out, customers):
    """The customer/nation source the ETL pipelines serialize and index."""
    out.mkdir(parents=True, exist_ok=True)
    write(out / "region.parquet", region())
    write(out / "nation.parquet", nation())
    write(out / "customer.parquet", customer(seed, customers))
    write(out / "supplier.parquet", supplier(seed, max(1, customers // 15)))


def generate(workload, seed, seed_dir):
    c = config.load()
    if workload == "sparql-session":
        star_schema(seed, seed_dir / "sparql", c["sparql_sf"])
    elif workload == "corpus-scaled":
        corpus(seed, seed_dir / "corpus", c["corpus_sf"], c["corpus_mult"])
    elif workload == "etl-pipelines":
        d = seed_dir / "etl"
        geonames_tsv(seed, d / "geonames", c["geonames_rows"])
        turtle_pages(seed, d / "pages", c["turtle_pages"], c["turtle_per_page"])
        etl_source(seed, d / "source", c["etl_customers"])
    else:
        raise SystemExit(f"unknown workload {workload}")
