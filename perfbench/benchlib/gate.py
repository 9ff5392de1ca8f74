"""Output gate, Python half.

Expected rows come from DuckDB running `SparkEntry.oracleSql` over the
same parquet, computed once per (seed, sf, oracle text) and cached. Values
are normalised by the `norm`/`canon` functions of tools/check_oracle.py,
loaded from that file as they are, so the gate agrees with the repository's
own oracle check. Timed results arrive as typed JSON written by the
harness's ResultStore (harness/src/main/scala/perfbench/Gate.scala)."""
import ast
import base64
import datetime
import decimal
import glob
import hashlib
import json
import os
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def load_check_oracle(path):
    """The `norm` and `canon` functions of check_oracle.py, executed from
    its source without running the script around them."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body
            if isinstance(n, ast.Import)
            or (isinstance(n, ast.FunctionDef) and n.name in ("norm", "canon"))]
    ns = {}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def _decode(obj):
    if len(obj) != 1:
        return obj
    (tag, v), = obj.items()
    if tag == "$f":
        return float(v)
    if tag == "$dec":
        return decimal.Decimal(v)
    if tag == "$date":
        return EPOCH_DAY + datetime.timedelta(days=v)
    if tag == "$ts":
        return EPOCH + datetime.timedelta(microseconds=v)
    if tag == "$bin":
        return base64.b64decode(v)
    if tag == "$struct":
        return {k: x for k, x in v}
    if tag == "$map":
        return {"key": [k for k, _ in v], "value": [x for _, x in v]}
    if tag == "$str":
        return v
    return obj


def read_result(path):
    """(query, columns, rows) from one ResultStore file."""
    with open(path) as f:
        header = json.loads(f.readline())
        rows = [json.loads(line, object_hook=_decode) for line in f if line.strip()]
    return header["query"], header["columns"], rows


def oracle(con, canon, sql):
    """Canonical expected rows (as lists of strings) for one oracle query."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return {"columns": sorted(cols), "rows": [list(r) for r in canon(rel.fetchall(), cols)]}


def expected(cache_dir, data_dir, seed, sf, oracle_sql, canon):
    """Expected rows per query, from the cache where the (seed, sf, SQL)
    triple has been seen before. DuckDB is opened only on a miss."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(f"{seed}|{sf}|{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}__{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            import duckdb
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
        t0 = time.monotonic()
        try:
            out[name] = oracle(con, canon, sql)
        except Exception as e:  # an oracle that fails makes its query fail
            out[name] = {"error": f"duckdb: {e}"}
        print(f"[perfbench] oracle {name}: {time.monotonic() - t0:.2f} s", file=sys.stderr)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out[name], f)
        os.replace(tmp, path)
    return out


def verdicts(results_dir, expect, canon):
    """{(query, hash): None if it matches the oracle, else the reason}."""
    out = {}
    for path in glob.glob(os.path.join(results_dir, "*.jsonl")):
        name, cols, rows = read_result(path)
        digest = os.path.basename(path)[len(name) + 2:-len(".jsonl")]
        exp = expect.get(name)
        if exp is None:
            why = "no oracle"
        elif "error" in exp:
            why = exp["error"]
        elif sorted(cols) != exp["columns"]:
            why = f"columns {sorted(cols)} != {exp['columns']}"
        else:
            got = [list(r) for r in canon(rows, cols)]
            why = None if got == exp["rows"] else \
                f"{len(rows)} rows differ from the oracle's {len(exp['rows'])}"
        out[(name, digest)] = why
    return out
