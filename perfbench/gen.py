"""Seeded generator for the benchmark's inputs.

`tables` builds the ten tables graft's lanes read (TPC-H-style star schema
plus the `events`, `documents` and `embeddings` tables), with the same column
names, types and value distributions as the project's synthetic test data.
Row counts scale with `sf` (TPC-H convention: lineitem = 6,000,000 x sf).
`generate` writes them as one parquet file each (the unpermuted base), plus
`variants` permuted copies (each table a seeded row permutation split into a
seeded number of files) and the text files the `graft.io` parsers read. The
same (seed, sf) always gives the same inputs.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
P_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000


def _ts(start: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    base = start.astype("datetime64[us]").astype(np.int64)
    return pa.array(base + offsets_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict:
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(np.datetime64("1995-01-01"),
                           rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(np.datetime64("1995-01-02"),
                          rng.integers(0, 2498, n_line) * DAY_US)})
    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01"), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                 int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_variant(tbls: dict, out: str, rng) -> None:
    for name, tbl in tbls.items():
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        perm = rng.permutation(tbl.num_rows)
        files = int(rng.integers(1, 5))
        for i, idx in enumerate(np.array_split(perm, files)):
            pq.write_table(tbl.take(pa.array(idx, pa.int64())),
                           os.path.join(d, f"part-{i:05d}.parquet"))


def write_text_inputs(t: dict, out: str) -> None:
    """Files in the formats `graft.io.RefFormats` and `SqlDump` parse,
    generated from the base tables so parsed rows can be checked."""
    os.makedirs(out)
    c = t["customer"].to_pylist()
    with open(os.path.join(out, "customer.tbl"), "w") as f:
        for r in c:
            k = r["c_custkey"]
            f.write(f"{k}|{r['c_name']}|addr{k}|{r['c_nationkey']}|phone{k}|"
                    f"{r['c_acctbal']!r}|{r['c_mktsegment']}|comment|\n")
    with open(os.path.join(out, "orders.tbl"), "w") as f:
        for r in t["orders"].to_pylist():
            f.write(f"{r['o_orderkey']}|{r['o_custkey']}|{r['o_orderstatus']}|"
                    f"{r['o_totalprice']!r}|{r['o_orderdate']:%Y-%m-%d}|"
                    f"{r['o_orderpriority']}|Clerk#1|0|comment|\n")
    with open(os.path.join(out, "supplier.tbl"), "w") as f:
        for r in t["supplier"].to_pylist():
            f.write(f"{r['s_suppkey']}|{r['s_name']}|{r['s_nationkey']}|"
                    f"{r['s_acctbal']!r}|\n")
    with open(os.path.join(out, "weather.csv"), "w") as f:
        f.write("Station,SEA\nPJD,Date,Time,Temperature,Dewpoint,RelHum,"
                "Speed,Gust,Pressure\n")
        for r in t["events"].to_pylist():
            ts = r["ts"]
            temp = "M" if r["event_type"] == "error" else repr(r["value"])
            f.write(f"{r['event_id']}.0,{ts:%Y-%m-%d},{ts.hour}:{ts.minute:02d},"
                    f"{temp},,,,,\n")
    with open(os.path.join(out, "users.txt"), "w") as f:
        for r in c:
            k = r["c_custkey"]
            kv = ["first_name", r["c_name"], "last_name", f"L{k}",
                  "email", f"u{k}@example.org", "gender", "F",
                  "ip_address", "10.0.0.1", "country", r["c_mktsegment"],
                  "country_code", "XX", "city", f"C{r['c_nationkey']}",
                  "longitude", str(r["c_nationkey"]),
                  "latitude", repr(r["c_acctbal"]),
                  "last_login", str(1_700_000_000 + k)]
            f.write(" ".join(f'"{x}"' for x in [f"user:{k}"] + kv) + "\n")
    with open(os.path.join(out, "scores.csv"), "w") as f:
        f.write("user:id,score,leaderboard\r\n")
        for r in c:
            k = r["c_custkey"]
            f.write(f"user:{k},{k % 1000},leaderboard:{r['c_nationkey'] % 3}\r\n")
    with open(os.path.join(out, "dump.sql"), "w") as f:
        f.write("-- customer dump\nCREATE TABLE customer (c_custkey BIGINT);\n")
        for r in c:
            f.write(f"INSERT INTO customer VALUES ({r['c_custkey']}, "
                    f"'{r['c_name']}', {r['c_nationkey']}, {r['c_acctbal']!r}, "
                    f"'{r['c_mktsegment']}');\n")


def generate(out: str, seed: int, sf: float, variants: int,
             text: bool = True) -> None:
    t = tables(seed, sf)
    base = os.path.join(out, "base")
    os.makedirs(base)
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(base, f"{name}.parquet"))
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    for v in range(variants):
        write_variant(t, os.path.join(out, "variants", f"v{v}"), rng)
    if text:
        write_text_inputs(t, os.path.join(out, "inputs"))


def main(argv) -> int:
    if len(argv) != 4:
        print(__doc__, file=sys.stderr)
        return 2
    generate(argv[1], int(argv[2]), float(argv[3]), variants=3)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
