"""adhoc_sql's correctness check against DuckDB, run after the window.

Every statement's collected rows, column names and column types must
equal those of the DuckDB twin the generator emitted, over the same
parquet files, with rows compared as a multiset and values exactly (the
rule of `tools/check_oracle.py`, where a type mismatch is a failure even
when values agree). A function returns a failure reason, or None when
the results agree.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Spark's simpleString of a column type -> DuckDB's name for the same type
SPARK_TO_DUCK = {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
                 "double": "DOUBLE", "float": "FLOAT", "string": "VARCHAR",
                 "boolean": "BOOLEAN", "date": "DATE"}


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _sort_key(row):
    return tuple((v is None, v if v is not None else 0) for v in row)


def compare_rows(result, twin_rel):
    """Collected Spark rows ({"schema": [[name, type]], "rows": [...]})
    against a DuckDB relation: same names, same types, same row multiset."""
    if "error" in result:
        return result["error"]
    names = [c[0] for c in result["schema"]]
    types = [SPARK_TO_DUCK.get(c[1], c[1]) for c in result["schema"]]
    if names != list(twin_rel.columns):
        return f"columns spark={names} twin={twin_rel.columns}"
    twin_types = [str(t) for t in twin_rel.types]
    if types != twin_types:
        return f"types spark={types} twin={twin_types}"
    got = sorted((tuple(r) for r in result["rows"]), key=_sort_key)
    want = sorted(twin_rel.fetchall(), key=_sort_key)
    if got != want:
        return f"rows differ: spark {len(got)} rows, twin {len(want)} rows"
    return None


def check_adhoc(con, plan, res):
    """adhoc_sql: replay the twins in plan order. Returns ({op id: reason}
    for failed window ops, [failed warm-up statements])."""
    warm_fail = []
    for st, got in zip(plan["warmup"], res["warmup"]):
        reason = _run_twin(con, st, got)
        if reason:
            warm_fail.append(f"{st['kind']}: {reason}")
    failed = {}
    for st, op, got in zip(plan["ops"], res["ops"], res["results"]):
        if op["error"]:
            failed[op["id"]] = op["error"]
            continue
        reason = _run_twin(con, st, got)
        if reason:
            failed[op["id"]] = reason
    # each window insert wrote its own partition: compare them one by one
    written = res["written"]
    for st, op in zip(plan["ops"], res["ops"]):
        if st["kind"] != "insert" or op["id"] in failed:
            continue
        if "error" in written:
            failed[op["id"]] = written["error"]
            continue
        rows = [r for r in written["rows"] if r[-1] == st["part_id"]]
        mine = {"schema": written["schema"], "rows": rows}
        rel = con.sql(f"select * from adhoc_sink where part_id = {st['part_id']}")
        reason = compare_rows(mine, rel)
        if reason:
            failed[op["id"]] = reason
    return failed, warm_fail


def _run_twin(con, st, got):
    if st["kind"] in ("ddl", "insert"):
        con.execute(st["twin"])
        return got.get("error")
    return compare_rows(got, con.sql(st["twin"]))
