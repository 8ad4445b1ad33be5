"""Seeded input generators for the benchmark.

`tables` writes the TPC-H-shaped star schema plus the `events`,
`documents` and `embeddings` tables that `graft.SparkEntry.queries`
read, with the column types and value domains of the reference fixture
(uniform columns, 5% near-duplicate documents, unit-norm embeddings).

`journey` builds the OpenFoodFacts-shaped delivery sequence and the
closed-loop read plan for the `journey` workload. The same seed always
gives byte-identical files and the same plan.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
NOUNS = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten tables under `out_dir` as `<name>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = 500, 500
    day_us = 86_400 * 10**6
    d1995 = 9131 * day_us  # 1995-01-01

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(d1995 + 1 + rng.integers(0, 2499, n_line) * day_us)})
    # events: ts strictly increasing with event_id across January 2024
    jan = 19723 * day_us
    gaps = rng.integers(1, 2 * (30 * day_us) // n_ev, n_ev)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(jan + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    # documents: random word streams; 5% are an earlier document + " dup"
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


BRANDS = ["Acme", "Nordic", "Alpen", "Sunny", "Golden", "Verde"]
STYLES = ["Organic", "Smoked", "Roasted", "Dark", "Light", "Sparkling"]
FOODS = ["Oat Milk", "Rye Bread", "Green Tea", "Chocolate", "Yogurt", "Pasta",
         "Olive Oil", "Granola", "Cheddar", "Salmon", "Honey", "Coffee"]
GRAMS = [100, 200, 250, 330, 500, 750, 1000]
PARTIAL_TERMS = ["oat", "smoked", "granola", "choc", "tea", "honey", "dark",
                 "verde", "rye", "olive", " 250", "salmon"]
CATEGORIES = ["snacks", "dairy", "beverages", "bakery", "breakfast", "sweets"]
COUNTRIES = ["France", "Germany", "Spain", "Italy", "Poland", "Sweden"]
MATERIALS = ["glass", "plastic", "cardboard", "metal"]
# one read burst: every burst has these counts, in a seeded order
READ_MIX = ["code"] * 14 + ["miss"] * 3 + ["partial"] * 3 + ["exact"] * 3 + \
    ["status"] * 2


class _Journey:
    """Stateful record generator: hands out fresh codes and $set updates of
    codes already delivered, never repeating a code within one file."""

    def __init__(self, seed):
        self.rng = random.Random(f"journey-{seed}")
        self.next_code = 0
        self.delivered = []  # codes of valid records, in delivery order

    def name(self):
        r = self.rng
        return (f"{BRANDS[r.randrange(6)]} {STYLES[r.randrange(6)]} "
                f"{FOODS[r.randrange(12)]} {GRAMS[r.randrange(7)]}g")

    def extras(self, tag):
        """Open-schema fields; each key keeps one JSON type across all
        deliveries, so schema inference never widens a type."""
        r, e = self.rng, {}
        if r.random() < 0.8:
            e["brands"] = BRANDS[r.randrange(6)]
        if r.random() < 0.6:
            e["quantity"] = f"{GRAMS[r.randrange(7)]} g"
        if r.random() < 0.5:
            e["categories"] = r.sample(CATEGORIES, r.randint(1, 3))
        if r.random() < 0.5:
            e["nutriments"] = {"energy_kcal": r.randrange(900),
                               "fat_g": r.randrange(100),
                               "sugars_g": r.randrange(100)}
        if r.random() < 0.4:
            e["nova_group"] = r.randint(1, 4)
        if r.random() < 0.3:
            e["packaging"] = {"material": MATERIALS[r.randrange(4)],
                              "recyclable": ("no", "yes")[r.randrange(2)]}
        if r.random() < 0.5:
            e["countries"] = COUNTRIES[r.randrange(6)]
        if r.random() < 0.2:  # a field only this delivery carries
            e[f"origin_{tag}"] = COUNTRIES[r.randrange(6)]
        return e

    def delivery(self, n, tag, update_frac):
        r, recs = self.rng, []
        n_upd = min(int(n * update_frac), len(self.delivered))
        for code in r.sample(self.delivered, n_upd):
            rec = {"code": code}
            if r.random() < 0.5:
                rec["product_name"] = self.name()
            rec.update(self.extras(tag))
            recs.append(rec)
        fresh = []
        for _ in range(n - n_upd):
            rec = {}
            if r.random() < 0.01:  # invalid: no code, counted as failed
                rec["product_name"] = self.name()
            else:
                code = f"{7600000000000 + self.next_code:013d}"
                self.next_code += 1
                rec["code"] = code
                fresh.append(code)
                if r.random() < 0.97:
                    rec["product_name"] = self.name()
            rec["_id"] = f"{r.getrandbits(62):016x}"
            rec["id"] = r.getrandbits(31)
            rec.update(self.extras(tag))
            recs.append(rec)
        r.shuffle(recs)
        self.delivered.extend(fresh)
        return recs

    def reads(self, deliveries_so_far):
        r, out = self.rng, []
        for kind in r.sample(READ_MIX, len(READ_MIX)):
            if kind == "code":
                arg = r.choice(self.delivered)
            elif kind == "miss":
                arg = f"{9900000000000 + r.randrange(10**9):013d}"
            elif kind == "partial":
                arg = r.choice(PARTIAL_TERMS)
            elif kind == "exact":
                arg = self.name()
            else:
                arg = r.randrange(deliveries_so_far)
            out.append({"op": kind, "arg": arg})
        return out


def _write_json(path, recs):
    enc = json.JSONEncoder(separators=(",", ":")).encode
    with open(path, "w") as f:
        f.write("[\n" + ",\n".join(map(enc, recs)) + "\n]\n")


def journey(seed: int, out_dir: str, sizes: list, warm_sizes: list,
            poison_at: int) -> dict:
    """Write the deliveries under `out_dir` and return the plan: warm-up
    deliveries (the engine runs a prefix of them, at least `warm_min`),
    then measured deliveries, each followed by a burst of `READ_MIX`
    reads. The delivery at `poison_at` is a truncated JSON array."""
    os.makedirs(out_dir, exist_ok=True)
    g = _Journey(seed)
    plan = {"warmup": [], "measured": [], "warm_min": 2}
    for i, n in enumerate(warm_sizes):
        recs = g.delivery(n, f"w{i}", 0.1 if i else 0.0)
        path = f"{out_dir}/warm{i}.json"
        _write_json(path, recs)
        plan["warmup"].append({"name": f"warm{i}.json", "path": path,
                               "records": recs})
        if i + 1 == plan["warm_min"]:
            # reads and updates may only name what every warm-up
            # prefix the engine might stop at has delivered
            known = list(g.delivered)
    # deliveries past the minimum warm-up are optional: later records
    # and reads only touch codes from the mandatory prefix onward
    optional = set(g.delivered) - set(known)
    g.delivered = known
    for i, n in enumerate(sizes):
        path = f"{out_dir}/d{i}.json"
        if i == poison_at:
            with open(path, "w") as f:
                f.write('[{"code":"7699999999999","product_name":"Poison"},'
                        '\n{"code": "7699999999998", "product_name": ')
            recs = None
        else:
            recs = g.delivery(n, f"d{i}", 0.15)
            _write_json(path, recs)
        plan["measured"].append({
            "name": f"d{i}.json", "path": path, "records": recs,
            "reads": g.reads(i + 1)})
    assert not optional & set(g.delivered)
    return plan
