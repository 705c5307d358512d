"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs (`write_inputs` checks this by generating twice).
The program under test only ever sees the files written here.
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------- CAIC feed documents

SEVERITY = ["extreme", "high", "considerable", "moderate", "low"]
OTHER_PRODUCTS = ["regionaldiscussion", "specialproduct", "statewidediscussion"]


def _polygon(rng, lon, lat):
    d = round(rng.uniform(0.1, 0.5), 2)
    lon, lat = round(lon, 2), round(lat, 2)
    return [[[lon, lat], [round(lon + d, 2), lat], [round(lon + d, 2), round(lat + d, 2)], [lon, lat]]]


def caic_docs(seed, variants=6, zones=40):
    """Document pairs shaped like the CAIC feed: a forecast-area
    FeatureCollection and a product array. Each variant has tens of
    zones, some MultiPolygons, numeric and string ids, duplicate area ids
    (the last one wins), non-forecast products, unknown or missing
    ratings, and forecasts whose area does not exist."""
    rng = random.Random(seed)
    out = []
    for _ in range(variants):
        features = []
        ids = []
        for z in range(zones):
            zid = z if rng.random() < 0.15 else f"Z-{z:02d}"
            ids.append(zid)
            lon, lat = rng.uniform(-109, -102), rng.uniform(37, 41)
            if rng.random() < 0.2:
                geom = {"type": "MultiPolygon",
                        "coordinates": [_polygon(rng, lon + 0.6 * k, lat) for k in range(rng.randint(2, 3))]}
            else:
                geom = {"type": "Polygon", "coordinates": _polygon(rng, lon, lat)}
            features.append({"type": "Feature", "id": zid,
                              "properties": {"name": f"Zone {z}"}, "geometry": geom})
        for _ in range(zones // 10):
            # a duplicate id: the later feature replaces the earlier one
            dup = rng.choice(ids)
            lon, lat = rng.uniform(-109, -102), rng.uniform(37, 41)
            features.append({"type": "Feature", "id": dup, "properties": {"name": "dup"},
                             "geometry": {"type": "Polygon", "coordinates": _polygon(rng, lon, lat)}})
        products = []
        for k, zid in enumerate(ids + [f"GONE-{j}" for j in range(zones // 8)]):
            if rng.random() < 0.1:
                continue  # a zone without a forecast today

            def rating():
                r = rng.random()
                if r < 0.05:
                    return "bogus"       # unknown: wins the worst-rating min
                if r < 0.08:
                    return None          # missing band
                return rng.choice(SEVERITY + ["noRating"])
            day = {}
            for band in ("alp", "tln", "btl"):
                v = rating()
                if v is not None:
                    day[band] = v
            p = {"type": "avalancheforecast", "id": f"p{k}", "publicName": f"Forecast {k}",
                 "polygons": [str(zid)], "areaId": str(zid), "forecaster": rng.choice(["ab", "cd", "ef", "gh"]),
                 "issueDateTime": "2026-02-01T14:00:00Z", "expiryDateTime": "2026-02-02T14:00:00Z",
                 "isTranslated": rng.random() < 0.2, "weatherSummary": None,
                 "avalancheSummary": {"days": [{"date": "2026-02-01", "content": f"Remark {rng.randint(0, 99)}."}]},
                 "dangerRatings": {"days": [day]}}
            if rng.random() < 0.05:
                p["dangerRatings"] = {"days": []}  # dropped: no day 0
            products.append(p)
        for j in range(zones // 6):
            products.insert(rng.randrange(len(products) + 1),
                            {"type": rng.choice(OTHER_PRODUCTS), "id": f"o{j}", "publicName": "Discussion"})
        out.append({"areas": json.dumps({"type": "FeatureCollection", "features": features}),
                    "products": json.dumps(products)})
    return out


# ----------------------------------------------------------------- olap_mix

OLAP_QUERIES = ["q06_region_revenue", "q31_minhash_lsh", "q119_pagerank", "q170_stream_stream_join"]
# every olap_mix pass also runs the reference CAIC job once
OLAP_PASS = OLAP_QUERIES + ["caic_run"]

WORDS = ("row the query stream fast spark line small customer group value hash batch sort data "
         "big filter dup key agg scan slow table part a merge window order column join vector").split()


def olap_order(seed, passes=200):
    """The order of each pass: a seeded permutation of its operations."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        names = list(OLAP_PASS)
        rng.shuffle(names)
        out.append(names)
    return out


def _ts(start, micros):
    return pa.array(np.datetime64(start, "us") + micros.astype("timedelta64[us]"), pa.timestamp("us"))


NEAR_DUP_SHARE = 0.1


def _documents(rng, n):
    """Random word sequences, a tenth of them near-duplicates: a copy of
    an earlier text of at least 40 words with one or two words replaced,
    so the word-trigram Jaccard of the pair stays above 0.7 and LSH has
    true pairs to find and verify."""
    words = np.array(WORDS, dtype=object)
    texts = []
    for i, k in enumerate(rng.integers(10, 100, n)):
        donors = [j for j in range(max(0, i - 50), i) if len(texts[j]) >= 40]
        if donors and rng.random() < NEAR_DUP_SHARE:
            w = list(texts[donors[int(rng.integers(0, len(donors)))]])
            for p in rng.choice(len(w), int(rng.integers(1, 3)), replace=False):
                w[p] = words[int(rng.integers(0, len(WORDS)))]
            texts.append(w)
        else:
            texts.append(list(words[rng.integers(0, len(WORDS), k)]))
    return [" ".join(t) for t in texts]


def olap_tables(seed, sf):
    """The star schema and event table the queries read, with the
    column names and types of the engine's test data, at scale factor
    `sf` (sf 1 = 1.5 M orders). Returns {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf), int(50000 * sf)
    n_users = max(10, n_cust // 10)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda vals, n: pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), n)].tolist(), pa.string())
    day_us = 86400 * 1000000
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colors = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})
    gaps = rng.integers(1, 2 * (30 * day_us) // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _documents(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()), "text": texts,
        "lang": pick(["en", "en", "es", "zh", "de", "fr"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    emb = rng.normal(0, 0.15, (n_doc, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
    return t


# ------------------------------------------------------------- lakehouse_rw

LAKE_COLUMNS = ["doc_id", "grp", "cat", "cents", "text"]
# Each round runs exactly these operations: the commits and reads in a
# seeded order, then the two refreshes in a seeded order, so every refresh
# folds the same number of commits whatever the seed.
LAKE_ROUND = {"append": 3, "update": 2, "delete": 2, "merge": 1,
              "mv_read": 2, "search": 2, "time_travel": 2, "changes": 2,
              "refresh_mv": 1, "refresh_text": 1}
REFRESHES = ("refresh_mv", "refresh_text")
# Rows each commit touches (a merge updates this many and inserts as many),
# fixed so that the seed changes which rows, not how much work a round is.
LAKE_ROWS = {"append": 20, "update": 10, "delete": 10, "merge": 6}
MV_SQL = ("CREATE MATERIALIZED VIEW graftcat.db.cd AS SELECT grp, count(*) AS n, "
          "count(DISTINCT cat) AS dp, sum(cents) AS s FROM {T} WHERE doc_id % 10 <> 7 GROUP BY grp")


def zipf_vocab(n=400):
    """Pronounceable lower-case words: the tokenizer keeps [a-z0-9]+."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out, seen = [], set()
    rng = random.Random(7)
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 3)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class LakeModel:
    """The table's contents at every version, and the deltas each commit
    made, kept while the generator applies operations."""

    def __init__(self):
        self.rows = {}                     # doc_id -> row tuple (live state)
        self.snapshots = {}                # version -> {doc_id: row}
        self.deltas = {}                   # version -> [(change_type, row)]
        self.version = 0
        self.mv_version = 0
        self.text_version = 0

    def commit(self, inserted, deleted):
        self.version += 1
        for r in deleted:
            del self.rows[r[0]]
        for r in inserted:
            self.rows[r[0]] = r
        self.snapshots[self.version] = dict(self.rows)
        self.deltas[self.version] = [("delete", r) for r in deleted] + [("insert", r) for r in inserted]

    def mv(self, version):
        groups = {}
        for r in self.snapshots[version].values():
            if r[0] % 10 == 7:
                continue
            g = groups.setdefault(r[1], [0, set(), 0])
            g[0] += 1
            g[1].add(r[2])
            g[2] += r[3]
        return sorted((k, v[0], len(v[1]), v[2]) for k, v in groups.items())


def _sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def _values(rows):
    return ", ".join(f"({r[0]}, {r[1]}, {_sql_str(r[2])}, {r[3]}, {_sql_str(r[4])})" for r in rows)


def lake_ops(seed, rounds=40, initial=600, groups=24):
    """The operation sequence of `lakehouse_rw` and the model it implies.
    Returns (spec, model, expectations): `spec` is what the program
    runs; `expectations[(round, index)]` describes what each read must
    return, in terms of model versions."""
    rng = random.Random(seed)
    vocab = zipf_vocab()
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(vocab))]
    next_id = [0]

    def text():
        return " ".join(rng.choices(vocab, weights, k=rng.randint(8, 40)))

    def new_row():
        i = next_id[0]
        next_id[0] += 1
        return (i, rng.randrange(groups), f"c{rng.randrange(12)}", rng.randrange(100, 100000), text())

    model = LakeModel()
    init = [new_row() for _ in range(initial)]
    create = ["CREATE TABLE {T} (doc_id BIGINT, grp BIGINT, cat STRING, cents BIGINT, text STRING) "
              "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')",
              f"INSERT INTO {{T}} VALUES {_values(init)}",
              MV_SQL,
              "CALL graftcat.create_text_index('{I}', '{P}', 16)"]
    model.commit(init, [])
    model.mv_version = model.text_version = model.version
    expect = {}
    out_rounds = []
    kinds = [k for k, n in LAKE_ROUND.items() for _ in range(n)]
    for rd in range(rounds):
        first = [k for k in kinds if k not in REFRESHES]
        last = [k for k in kinds if k in REFRESHES]
        rng.shuffle(first)
        rng.shuffle(last)
        order = first + last
        ops = []
        for idx, kind in enumerate(order):
            live = sorted(model.rows)
            if kind == "append":
                rows = [new_row() for _ in range(LAKE_ROWS["append"])]
                ops.append({"kind": kind, "sql": f"INSERT INTO {{T}} VALUES {_values(rows)}"})
                model.commit(rows, [])
            elif kind == "update":
                ids = rng.sample(live, LAKE_ROWS["update"])
                cat, extra = f"c{rng.randrange(12)}", " ".join(rng.choices(vocab, weights, k=2))
                old = [model.rows[i] for i in ids]
                new = [(r[0], r[1], cat, r[3] + 7, r[4] + " " + extra) for r in old]
                ops.append({"kind": kind, "sql": f"UPDATE {{T}} SET cat = {_sql_str(cat)}, cents = cents + 7, "
                            f"text = concat(text, {_sql_str(' ' + extra)}) "
                            f"WHERE doc_id IN ({', '.join(map(str, sorted(ids)))})"})
                model.commit(new, old)
            elif kind == "delete":
                ids = rng.sample(live, LAKE_ROWS["delete"])
                ops.append({"kind": kind, "sql": f"DELETE FROM {{T}} WHERE doc_id IN ({', '.join(map(str, sorted(ids)))})"})
                model.commit([], [model.rows[i] for i in ids])
            elif kind == "merge":
                hit = rng.sample(live, LAKE_ROWS["merge"])
                src = [(i, 0, f"c{rng.randrange(12)}", rng.randrange(100, 100000), "") for i in hit]
                src += [new_row() for _ in range(LAKE_ROWS["merge"])]
                old = [model.rows[i] for i in hit]
                new = [(o[0], o[1], s[2], s[3], o[4]) for o, s in zip(old, src)] + src[len(hit):]
                ops.append({"kind": kind, "sql":
                            f"MERGE INTO {{T}} t USING (SELECT * FROM VALUES {_values(src)} "
                            "AS s(doc_id, grp, cat, cents, text)) s ON t.doc_id = s.doc_id "
                            "WHEN MATCHED THEN UPDATE SET cat = s.cat, cents = s.cents "
                            "WHEN NOT MATCHED THEN INSERT (doc_id, grp, cat, cents, text) "
                            "VALUES (s.doc_id, s.grp, s.cat, s.cents, s.text)"})
                model.commit(new, old)
            elif kind == "refresh_mv":
                ops.append({"kind": kind, "sql": "CALL graftcat.refresh_mv('db.cd')"})
                model.mv_version = model.version
            elif kind == "refresh_text":
                ops.append({"kind": kind, "sql": "CALL graftcat.refresh_text_index('{I}')"})
                model.text_version = model.version
            elif kind == "mv_read":
                ops.append({"kind": kind, "check": True, "sql": "SELECT grp, n, dp, s FROM graftcat.db.cd"})
                expect[(rd, idx)] = ("mv", model.mv_version)
            elif kind == "search":
                terms = rng.sample(vocab[2:40], 2)
                ops.append({"kind": kind, "check": True,
                            "sql": f"CALL graftcat.text_search_and('{{I}}', '{','.join(terms)}', 10)"})
                expect[(rd, idx)] = ("search", model.text_version, terms)
            elif kind == "time_travel":
                v = rng.randint(1, model.version)
                ops.append({"kind": kind, "check": True,
                            "sql": f"SELECT doc_id, grp, cat, cents, text FROM {{T}} VERSION AS OF {v}"})
                expect[(rd, idx)] = ("snapshot", v)
            elif kind == "changes":
                end = model.version
                start = min(max(2, end - 2), end)
                ops.append({"kind": kind, "check": True, "start": start, "end": end})
                expect[(rd, idx)] = ("changes", start, end)
            ops[-1]["version"] = model.version
        out_rounds.append(ops)
    return {"create": create, "rounds": out_rounds}, model, expect


# ------------------------------------------------------------------ writing

def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def _write(workload, seed, d, sf):
    os.makedirs(d, exist_ok=True)
    if workload == "olap_mix":
        _write_json(os.path.join(d, "caic_docs.json"), caic_docs(seed))
        _write_json(os.path.join(d, "olap_order.json"), olap_order(seed))
        os.makedirs(os.path.join(d, "olap"), exist_ok=True)
        for name, table in olap_tables(seed, sf).items():
            pq.write_table(table, os.path.join(d, "olap", f"{name}.parquet"))
    elif workload == "lakehouse_rw":
        _write_json(os.path.join(d, "lake_ops.json"), lake_ops(seed)[0])
    else:
        raise ValueError(f"unknown workload {workload}")


def digest(d):
    """sha256 over every file under `d` (relative path and bytes)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def input_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def write_inputs(workload, seed, d, sf, check_dir):
    """Write the workload's inputs to `d`, write them again to
    `check_dir`, and fail unless both are byte-identical."""
    _write(workload, seed, d, sf)
    _write(workload, seed, check_dir, sf)
    a, b = digest(d), digest(check_dir)
    if a != b:
        raise RuntimeError(f"generator is not deterministic for seed {seed}: {a} != {b}")
    return a
