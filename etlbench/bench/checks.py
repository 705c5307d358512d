"""Output checks. They run after the program has exited, outside every
timed window. Each returns (attempted, failed, notes): one entry per
operation the program ran, failed when it raised or returned a wrong
answer."""
import json
import os
import subprocess
import sys
import duckdb

from . import caic_model, gen


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _op_failures(ops):
    return {o["i"] for o in ops if not o["ok"]}


def check_caic(inputs, out, ops):
    """CAIC runs: every submitted document against the model."""
    docs = json.load(open(os.path.join(inputs, "caic_docs.json")))
    # first prove the model on the engine's pinned q37 fixture
    golden = json.load(open(os.path.join(out, "q37_golden.json")))
    rows = duckdb.connect().execute(golden["oracle_sql"]).fetchall()
    if caic_model.features(golden["areas"], golden["products"]) != caic_model.golden_features(rows):
        raise RuntimeError("the CAIC model does not reproduce the pinned q37 golden output")
    expected = [caic_model.features(d["areas"], d["products"]) for d in docs]
    by_pass = {b["pass"]: b for b in read_jsonl(os.path.join(out, "caic_bodies.jsonl"))}
    failed = _op_failures(ops)
    notes = []
    for o in ops:
        b = by_pass.get(o["pass"])
        if b is None or caic_model.submitted(b["body"]) != expected[b["variant"]]:
            if o["i"] not in failed:
                notes.append(f"run {o['i']}: submitted document differs from the model")
            failed.add(o["i"])
    return failed, notes


def check_olap(root, inputs, out, ops):
    """Query results against their oracle SQL, CAIC runs against the model."""
    tool = os.path.join(root, "tools", "check_oracle.py")
    res = subprocess.run([sys.executable, tool, os.path.join(inputs, "olap"), os.path.join(out, "verify")],
                         capture_output=True, text=True, timeout=120)
    verified = {}
    for line in res.stdout.splitlines():
        if line.startswith("PASS "):
            name, rest = line[5:].split(" (", 1)
            verified[name] = int(rest.split(" ", 1)[0])
    counts = {(c["pass"], c["query"]): c["rows"] for c in read_jsonl(os.path.join(out, "olap_counts.jsonl"))}
    failed, notes = check_caic(inputs, out, [o for o in ops if o["kind"] == "caic"])
    notes += [line for line in res.stdout.splitlines() if line.startswith("FAIL ")]
    failed |= _op_failures(ops)
    for name, n in sorted(verified.items()):
        if n == 0:
            notes.append(f"{name}: the oracle agrees on an empty result, so the inputs do not exercise it")
    for o in (o for o in ops if o["kind"] == "query"):
        if o["phase"] == "verify":
            # the verify pass wrote the results the oracle check read
            if not verified.get(o["name"]):
                failed.add(o["i"])
            continue
        n = counts.get((o["pass"], o["name"]))
        if o["name"] not in verified or n != verified[o["name"]]:
            if o["i"] not in failed and o["name"] in verified:
                notes.append(f"{o['name']} pass {o['pass']}: {n} rows, verified {verified[o['name']]}")
            failed.add(o["i"])
    return len(ops), len(failed), notes, verified


BM25_SQL = (
    "WITH docs AS (SELECT doc_id, text FROM snap), "
    "tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM docs), "
    "lens AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term IN ({terms}) GROUP BY 1, 2), "
    "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
    "conj AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(DISTINCT term) = {k}), "
    "stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens) "
    "SELECT doc_id, round(sum("
    "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * "
    "(CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / "
    "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS bm25 "
    "FROM tf JOIN conj USING (doc_id) JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats "
    "GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10")


def _bm25(con, snapshot, terms):
    con.execute("CREATE OR REPLACE TABLE snap (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO snap VALUES (?, ?)", [(r[0], r[4]) for r in snapshot.values()])
    sql = BM25_SQL.format(terms=", ".join(f"'{t}'" for t in terms), k=len(terms))
    return [(d, round(s, 6)) for d, s in con.execute(sql).fetchall()]


def _row(r):
    return tuple(r[c] for c in gen.LAKE_COLUMNS)


def lake_expected(model, exp):
    """What a read must return, as a comparable value."""
    if exp[0] == "mv":
        return sorted(model.mv(exp[1]))
    if exp[0] == "snapshot":
        return sorted(model.snapshots[exp[1]].values())
    if exp[0] == "changes":
        return sorted((t, v) + r for v in range(exp[1], exp[2] + 1) for t, r in model.deltas[v])
    raise ValueError(exp[0])


def lake_actual(kind, rows):
    if kind == "mv_read":
        return sorted((r["grp"], r["n"], r["dp"], r["s"]) for r in rows)
    if kind == "time_travel":
        return sorted(_row(r) for r in rows)
    if kind == "changes":
        return sorted((r["_change_type"], r["_commit_version"]) + _row(r) for r in rows)
    if kind == "search":
        return [(r["doc_id"], round(r["bm25"], 6)) for r in rows]
    raise ValueError(kind)


def check_lake(seed, out, ops, versions):
    spec, model, expect = gen.lake_ops(seed)
    results = {r["op"]: r for r in read_jsonl(os.path.join(out, "lake_results.jsonl"))}
    failed = _op_failures(ops)
    notes = []
    con = duckdb.connect()
    for o in ops:
        r = results.get(o["i"])
        if r is None or o["i"] in failed:
            failed.add(o["i"])
            continue
        problem = None
        if (r["round"], r["index"]) in expect:
            exp = expect[(r["round"], r["index"])]
            if exp[0] == "search":
                want = _bm25(con, model.snapshots[exp[1]], exp[2])
            else:
                want = lake_expected(model, exp)
            got = lake_actual(r["kind"], r["rows"])
            if got != want:
                problem = f"{r['kind']} differs from the model: got {str(got)[:300]} want {str(want)[:300]}"
        if problem:
            notes.append(f"op {o['i']} ({r['kind']}): {problem}")
            failed.add(o["i"])
    # every commit made exactly one table version
    last = max(results.values(), key=lambda r: r["op"])
    want = spec["rounds"][last["round"]][last["index"]]["version"]
    if versions != list(range(versions[0], want + 1)):
        notes.append(f"table history {versions[0]}..{versions[-1]} ({len(versions)} versions), model ends at {want}")
        failed.add(last["op"])
    return len(ops), len(failed), notes, want


def live_json_bytes(seed, last_version):
    """JSON bytes of the rows live at `last_version`: the user data the
    table, the view and the index together hold."""
    _, model, _ = gen.lake_ops(seed)
    rows = model.snapshots[last_version].values()
    return sum(len(json.dumps(dict(zip(gen.LAKE_COLUMNS, r)))) for r in rows)
