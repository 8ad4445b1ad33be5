"""Output checks.

Journey: a model of the reference's semantics predicts the final
products, each delivery's status and counters, and every read's rows;
the engine's outputs must equal it. Field-level `$set` upsert: a later
delivery's non-null `product_name` wins, `extras` merge key by key with
the later value winning, `_id`/`id` are dropped, a record without `code`
counts as failed, and a malformed JSON array fails its whole delivery.

Mixes: every pass of a key must return the same checksum as its
warm-up pass, must run Spark jobs when its warm-up did (a memoized
result measures nothing), and a seeded sample of keys is compared
with their DuckDB twins by `tools/check.py`.
"""
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

DROPPED = {"code", "product_name", "id", "_id"}
_JSON = json.JSONEncoder(separators=(",", ":"), sort_keys=True).encode


def _str(v):
    """The string graft stores for an open-schema field value."""
    if isinstance(v, str):
        return v
    if isinstance(v, (dict, list)):
        return _JSON(v)
    return str(v)


class Store:
    def __init__(self):
        self.products = {}  # code -> [product_name, extras or None]

    def apply(self, recs):
        """Apply one delivery; return its (status, total, processed,
        failed) as the status endpoint reports them."""
        if recs is None:
            return ["failed", 0, 0, 0]
        failed = 0
        for r in recs:
            code = r.get("code")
            if not code:
                failed += 1
                continue
            p = self.products.setdefault(code, [None, None])
            if r.get("product_name") is not None:
                p[0] = r["product_name"]
            ex = {k: _str(v) for k, v in r.items()
                  if k not in DROPPED and v is not None}
            if ex:
                p[1] = {**(p[1] or {}), **ex}
        return ["processed_with_errors" if failed else "processed",
                len(recs), len(recs) - failed, failed]

    def row(self, code):
        name, extras = self.products[code]
        return [code, name, extras]

    def read(self, op, arg, statuses):
        if op in ("code", "miss"):
            return [self.row(arg)] if arg in self.products else []
        if op == "partial":
            t = arg.lower()
            hits = sorted(c for c, (n, _) in self.products.items()
                          if n is not None and t in n.lower())
            return [self.row(c) for c in hits[:20]]
        if op == "exact":
            return [self.row(c) for c in sorted(
                c for c, (n, _) in self.products.items() if n == arg)]
        return [statuses[arg]]


def check_journey(plan, res, products_dir):
    """Compare the engine's journey outputs with the model."""
    failures, attempted = [], 0
    ops = res["ops"]
    deliveries = [o for o in ops if o["kind"] == "delivery"]
    n_warm = res["warm_deliveries"]
    sequence = plan["warmup"][:n_warm] + plan["measured"]
    store, statuses = Store(), []
    reads = iter(o for o in ops if o["kind"] not in ("delivery",))
    if len(deliveries) != len(sequence):
        failures.append(f"ran {len(deliveries)} deliveries, planned {len(sequence)}")
    for i, (d, o) in enumerate(zip(sequence, deliveries)):
        attempted += 1
        expect = store.apply(d["records"])
        got = o["result"]["status"]
        if o["error"] or not got or got[1:] != expect or \
                not got[0].endswith("_" + d["name"]):
            failures.append(f"delivery {d['name']}: status {got} != {expect} "
                            f"{o['error'] or ''}")
        statuses.append([got[0] if got else None] + expect)
        if i < n_warm:
            continue
        for rd in d["reads"]:
            attempted += 1
            o = next(reads, None)
            if o is None:
                failures.append("missing read results")
                break
            want = store.read(rd["op"], rd["arg"], statuses[n_warm:])
            if o["error"] or o["result"] != want:
                failures.append(f"read {rd['op']}({rd['arg']}) after "
                                f"{d['name']}: {str(o['result'])[:200]} != "
                                f"{str(want)[:200]}")
    attempted += 1
    t = pq.read_table(products_dir)
    codes = t.column("code").to_pylist()
    got = {c: [c, n, dict(e) if e is not None else None] for c, n, e in zip(
        codes, t.column("product_name").to_pylist(), t.column("extras").to_pylist())}
    want = {c: store.row(c) for c in store.products}
    if len(codes) != len(got) or got != want:
        bad = [c for c in set(got) | set(want) if got.get(c) != want.get(c)]
        failures.append(f"final products: {len(bad)} codes differ, e.g. "
                        f"{bad[:1]} {[got.get(c) for c in bad[:1]]} != "
                        f"{[want.get(c) for c in bad[:1]]}")
    return {"attempted": attempted, "failures": failures}


def check_mix(res, data_dir, oracle_dir):
    """Per-key consistency and memoization checks, plus the DuckDB
    comparison of the sampled keys' dumps."""
    failures = []
    by_key = {}
    for o in res["ops"]:
        by_key.setdefault(o["name"], []).append(o)
    for k, runs in by_key.items():
        warm = [o for o in runs if o["phase"] == "warm"]
        timed = [o for o in runs if o["phase"] == "timed"]
        for o in runs:
            if o["error"]:
                failures.append(f"{k} ({o['phase']}): {o['error']}")
                break
        else:
            sums = {json.dumps(o["result"]) for o in warm + timed}
            if len(sums) > 1:
                failures.append(f"{k}: result differs between passes {sorted(sums)}")
            if any(o["jobs"] for o in warm) and not all(o["jobs"] for o in timed):
                failures.append(f"{k}: ran Spark jobs in warm-up but none when timed")
    sampled = [d for d in sorted(os.listdir(oracle_dir))
               if os.path.isdir(os.path.join(oracle_dir, d))]
    if sampled:
        tool = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools", "check.py")
        p = subprocess.run([sys.executable, tool, data_dir, oracle_dir],
                           cwd=oracle_dir, capture_output=True, text=True, timeout=120)
        failures += [ln[len("[FAIL] "):] for ln in p.stdout.splitlines()
                     if ln.startswith("[FAIL]")]
        if p.returncode not in (0, 1):
            failures.append(f"oracle check crashed: {p.stderr[-300:]}")
    return {"attempted": len(by_key), "failures": failures,
            "oracle_checked": sampled}
