"""Seeded input generators for the benchmark.

Two families, both deterministic in (seed, parameters):

* ``tables`` writes the star-schema + events/documents/embeddings parquet
  tables that ``SparkEntry.queries`` read, with the schemas and value
  domains of the repository's reference test data (FIXTURES.md section A),
  scaled by ``sf``.
* ``nagios`` writes, per cron tick, the rrdexport response documents
  (``extract.py`` shapes: scalar vs list ``v``, NaN, garbage and short
  value lists; each window re-delivers the previous tick's last points)
  plus one service-status snapshot, and returns the counts a correct
  pipeline must reconcile to.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "blue cold hot red small new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, ndays):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, sf, seed):
    """Write the ten parquet tables for scale factor ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(15000 * sf), int(1000 * sf), int(20000 * sf)
    n_ord, n_li, n_ev = int(150000 * sf), int(600000 * sf), int(100000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    span_us = 30 * 86400 * 10**6
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        # strictly increasing: no two events share a timestamp
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(
            rng.integers(1, 2 * span_us // n_ev, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n_doc)]
    # a few near-duplicates of earlier documents, one word swapped
    for i in rng.choice(np.arange(n_doc // 2, n_doc), n_doc // 200, replace=False):
        words = texts[int(rng.integers(0, n_doc // 2))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


# --- Nagios cron-tick inputs ------------------------------------------------

CPU, MEM = "CPU Usage", "Memory Usage"
KEYS = {CPU: 1, MEM: 5}           # NagiosModel.serviceKeys widths
URL_SERVICES = ["URL a", "URL b", "URL c"]


def _value(rng):
    """One rrdexport value string and whether the gate must keep it."""
    r = rng.random()
    if r < 0.02:
        return "NaN", False
    if r < 0.03:
        return "garbage", False
    return f"{rng.uniform(0, 100):.{int(rng.integers(1, 5))}f}", True


def _point(rng, service, t):
    """One rrdexport row ``{"t", "v"}`` and whether the gate must keep it."""
    if service == CPU:
        v, ok = _value(rng)
    else:
        vals = [_value(rng) for _ in range(KEYS[MEM])]
        if rng.random() < 0.02:          # short list: missing keys
            vals = vals[:2]
        v = [x for x, _ in vals]
        ok = len(vals) == KEYS[MEM] and all(o for _, o in vals)
    return {"t": str(t), "v": v}, ok


def nagios(out, seed, hosts, ticks, points_per_doc, overlap_points, step_s, files_per_tick=4):
    """Land per-tick documents under ``out/ticks/<k>/`` and status snapshots
    under ``out/status/<k>.json`` (+ fixed ``members.json``/``details.json``).

    Each tick's document for a (host, service) covers ``points_per_doc``
    points ``step_s`` apart; its first ``overlap_points`` re-deliver,
    unchanged, the last points of the previous tick's window, which the
    job's dedup must drop. Returns the per-tick expectations."""
    rng = np.random.default_rng([seed, 2])
    t0 = 1723400000 - 1723400000 % step_s
    expect, prev = [], {}
    for k in range(ticks):
        docs, unique_rows, resent_rows = [], 0, 0
        for h in range(hosts):
            for svc in (CPU, MEM):
                host = f"host{h:04d}"
                again = prev[host, svc][-overlap_points:] if k else []
                start = k * (points_per_doc - overlap_points)
                fresh = [_point(rng, svc, t0 + (start + j) * step_s)
                         for j in range(len(again), points_per_doc)]
                prev[host, svc] = points = again + fresh
                body = json.dumps({"data": {"row": [r for r, _ in points]}}, separators=(",", ":"))
                docs.append({"host_name": host, "service_name": svc, "body": body})
                unique_rows += KEYS[svc] * sum(ok for _, ok in fresh)
                resent_rows += KEYS[svc] * sum(ok for _, ok in again)
        order = rng.permutation(len(docs))
        tick_dir = os.path.join(out, "ticks", f"{k:03d}")
        os.makedirs(tick_dir, exist_ok=True)
        for f in range(files_per_tick):
            with open(os.path.join(tick_dir, f"docs-{k:03d}-{f}.json"), "w") as fh:
                for i in order[f::files_per_tick]:
                    fh.write(json.dumps(docs[i]) + "\n")
        expect.append({"unique_rows": unique_rows, "resent_rows": resent_rows,
                       "status_points": _status(rng, os.path.join(out, "status"), k, hosts)})
    _dimensions(np.random.default_rng([seed, 3]), out, hosts)
    return expect


def _members(hosts):
    return [(f"host{h:04d}", s) for h in range(hosts) for s in URL_SERVICES
            if (h + URL_SERVICES.index(s)) % 4 != 0]


def _status(rng, out, k, hosts):
    """One servicestatus snapshot; returns how many points it must publish."""
    os.makedirs(out, exist_ok=True)
    members, expected = set(_members(hosts)), 0
    base = datetime.datetime(2024, 8, 11, 19, 0, 0) + datetime.timedelta(days=k)
    with open(os.path.join(out, f"{k:03d}.json"), "w") as fh:
        for h in range(hosts):
            for s in URL_SERVICES:
                key = (f"host{h:04d}", s)
                r = rng.random()
                last = (None if r < 0.03 else "" if r < 0.04 else "not-a-date" if r < 0.06
                        else (base + datetime.timedelta(seconds=int(rng.integers(0, 300))))
                        .strftime("%Y-%m-%d %H:%M:%S"))
                state = str(rng.choice(["0", "1", "2", "3", "7"])) if rng.random() > 0.02 else None
                fh.write(json.dumps({"host_name": key[0], "service_description": s,
                                     "current_state": state, "last_check": last}) + "\n")
                expected += key in members and last not in (None, "", "not-a-date")
    return expected


def _dimensions(rng, out, hosts):
    with open(os.path.join(out, "members.json"), "w") as fh:
        for h, s in _members(hosts):
            fh.write(json.dumps({"host_name": h, "service_description": s}) + "\n")
    with open(os.path.join(out, "details.json"), "w") as fh:
        for h, s in _members(hosts):
            r = rng.random()
            if r < 0.05:
                continue                      # no details row: defaults apply
            row = {"host_name": h, "service_description": s, "display_name": f"{h} {s}"}
            cv = {"FRIENDLYNAME": f"friendly {h}", "CROWNJEWEL": "yes" if r < 0.3 else "no"}
            if r < 0.5:
                row["customvars_map"] = cv
            else:
                row["customvars_list"] = [{"name": n, "value": v} for n, v in cv.items()]
            fh.write(json.dumps(row) + "\n")


if __name__ == "__main__":
    import sys
    tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
