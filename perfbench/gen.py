"""Seeded input generator for the benchmark.

Writes the ten parquet tables the engine's catalog knows (TPC-H-shaped star
schema plus events, documents and embeddings) with the column types and value
distributions of the harness test data, and, for the sync workload, the
connector config (named .sql/.map files, a properties file) plus the expected
outcome of one sync pass. The same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000


def _days(start: str, end: str) -> tuple:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _ts_days(rng, n, start, end):
    lo, hi = _days(start, end)
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(seed: int, sf: float) -> dict:
    """All ten tables as {name: {column: array}} for scale factor `sf`."""
    rng = lambda k: np.random.default_rng([seed, k])  # noqa: E731
    n_cust, n_supp = max(150, round(150_000 * sf)), max(10, round(10_000 * sf))
    n_part, n_ord = max(200, round(200_000 * sf)), max(1500, round(1_500_000 * sf))
    n_line, n_ev = max(6000, round(6_000_000 * sf)), max(1000, round(1_000_000 * sf))
    n_doc, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    r = rng(1)
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]}
    r = rng(2)
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)}
    r = rng(3)
    keys = np.arange(n_part)
    t["part"] = {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)}
    r = rng(4)
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000, 500_000),
        "o_orderdate": _ts_days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]}
    r = rng(5)
    t["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105_000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(r, n_line, "1995-01-02", "2001-11-04")}
    r = rng(6)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(150, round(15_000 * sf)), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}
    r = rng(7)
    texts = []
    for n_words, dup in zip(r.integers(10, 101, n_doc), r.random(n_doc) < 0.05):
        words = [WORDS[i] for i in r.integers(0, len(WORDS), n_words)]
        texts.append(" ".join(words + (["dup"] if dup else [])))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    r = rng(8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    return t


# Named queries shaped like the reference connector's teacherCandidateIds /
# teacherCandidateAddresses: a join, an equality filter, ORDER BY, a CASE
# mapping, and one column-map entry that resolves to nothing.
SYNC_SQL = {
    "candidateIds": (
        "SELECT c.c_custkey AS CUST_KEY, c.c_name AS CUST_NAME,\n"
        "       n.n_name AS NATION_NAME\n"
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey\n"
        "WHERE c.c_mktsegment = 'BUILDING'\n"
        "ORDER BY c.c_custkey\n"),
    "candidateAddresses": (
        "SELECT o.o_custkey AS CUST_KEY, o.o_orderkey AS ADDRESS_ID,\n"
        "       o.o_orderdate AS FROM_DATE,\n"
        "       CASE WHEN o.o_orderpriority = '1-URGENT' THEN 'Mailing'\n"
        "            WHEN o.o_orderpriority = '2-HIGH' THEN 'Permanent'\n"
        "            ELSE 'Other' END AS ADDRESS_TYPE\n"
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey\n"
        "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'\n"
        "ORDER BY o.o_custkey, o.o_orderkey\n"),
}
SYNC_MAP = {
    "candidateIds": ("studentUniqueId=CUST_KEY\nfirstName=cust_name\n"
                     "nationDescriptor=NATION_NAME\nmiddleName=MIDDLE_NAME\n"),
    "candidateAddresses": ("studentUniqueId=CUST_KEY\naddressId=address_id\n"
                           "beginDate=FROM_DATE\naddressType=ADDRESS_TYPE\n"),
}


def perturb_for_sync(seed: int, t: dict) -> dict:
    """Null ~2% of customer names (quarantined by the sync's validation) and
    move ~10% of customers into the BUILDING segment; return the expected
    outcome of one sync pass against a store prefilled with a seeded half of
    all keys."""
    r = np.random.default_rng([seed, 100])
    cust = t["customer"]
    n = len(cust["c_name"])
    null_name = r.random(n) < 0.02
    to_building = r.random(n) < 0.10
    cust["c_name"] = [None if z else x for x, z in zip(cust["c_name"], null_name)]
    cust["c_mktsegment"] = ["BUILDING" if b else s
                            for s, b in zip(cust["c_mktsegment"], to_building)]
    seg = np.array([s == "BUILDING" for s in cust["c_mktsegment"]])
    valid = ~null_name
    prefill = r.random(n) < 0.5
    keys = np.arange(n)
    upserts = keys[valid & seg]
    quarantined = keys[~valid]
    deletes = keys[valid & ~seg]
    return {
        "upserts": int(len(upserts)),
        "deletes": int(len(deletes)),
        "quarantined": int(len(quarantined)),
        "prefill": keys[prefill].tolist(),
        "store": sorted(set(upserts.tolist()) | set(keys[prefill & ~valid].tolist())),
    }


def generate(out: str, seed: int, sf: float, sync: bool) -> None:
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    t = tables(seed, sf)
    if sync:
        expect = perturb_for_sync(seed, t)
        for sub, files, ext in (("sql", SYNC_SQL, "sql"), ("map", SYNC_MAP, "map")):
            os.makedirs(os.path.join(out, "sync", sub), exist_ok=True)
            for name, body in files.items():
                with open(os.path.join(out, "sync", sub, f"{name}.{ext}"), "w") as f:
                    f.write(body)
        with open(os.path.join(out, "sync", "app.properties"), "w") as f:
            f.write("\n".join([
                f"input.data.dir={data}",
                f"input.sql.dir={out}/sync/sql",
                f"input.columnmap.dir={out}/sync/map",
                f"output.dir={out}/sync/out",
                "api.base.path=loopback:perfbench",
                "oauth.token.url=loopback",
                "tpdm.api.save=true",
                "output.data.to.dir=true", ""]))
        with open(os.path.join(out, "expect.json"), "w") as f:
            json.dump(expect, f)
    for name, cols in t.items():
        _write(data, name, cols)

