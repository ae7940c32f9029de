"""Seeded workload generator.

Everything a run varies by seed is chosen here and nowhere else: the
statement order, the SQL literals, the arrival times and the replay-chunk
schedule. The engine only ever receives the generated statements and
files. `plan(workload, seed, seconds)` returns a JSON-able dict; its
`digest` is the SHA-256 of everything else in it, so two runs can show
they received identical inputs.
"""
import datetime
import hashlib
import json
import random

WORKLOADS = {
    "adhoc_sql": "short dialect statements at Poisson arrivals, open loop, "
                 "4 submitters; compile- and scheduler-bound front door",
    "stream_replay": "three streaming twins fed replay chunks on a fixed "
                     "schedule, open loop; per-trigger commit floor",
}

# Open-loop rates. adhoc_sql: statements per second (one session, at most
# ADHOC_THREADS in flight). stream_replay: each twin gets one chunk every
# STREAM_INTERVAL_S, the three twins phase-shifted by a third of it.
# One session with four submitters completes at most about 15
# statements/s of this mix on 4 cores, and latency_p90_s bends upward
# between 5 and 8/s (README.md, "adhoc_sql rate"); 5/s is about a third
# of that capacity, below the knee.
ADHOC_RATE = 5.0
ADHOC_THREADS = 4
ADHOC_WRITE_SHARE = 0.1
STREAM_INTERVAL_S = 1.5
# Each twin starts a micro-batch at most every STREAM_TRIGGER_MS. With the
# default trigger an idle file-source query re-lists its directory about
# every 10 ms, and three of them polling made latency_p50_s swing by half
# between runs.
STREAM_TRIGGER_MS = 100
# Both loops run RAMP_S seconds of the same load before the measured
# window, so the window starts with the JIT, codegen cache and scheduler
# warm under concurrency; ramp ops are checked but not measured.
RAMP_S = 5.0
# The runner JVM's compilers per workload. adhoc_sql compiles with C1
# only: every statement with new literals generates new classes, and with
# C2 the JIT threads spent about 40 s of CPU in a 25-s ramp and window on
# 4 cores; paired runs were faster with C1 alone, every time (README.md,
# "JIT"). stream_replay re-runs the
# same operator and state-store code every trigger, where C2 pays back:
# with C1 alone its latency_p90_s rose from 0.52-0.68 s to 0.53-0.90 s.
JVM_OPTS = {"adhoc_sql": ["-XX:TieredStopAtLevel=1"], "stream_replay": []}
TWINS = ["cms", "asof", "changelog"]
READS = ["point", "filter", "groupby", "topn", "join", "setopt", "events",
         "readback"]

# Fixed scale of the generated tables (gen_data.tables): the key ranges
# the SQL literals are drawn from.
N_ORDERS, N_CUST, N_PART, N_USERS = 150000, 15000, 20000, 1515
N_DOCS, EVENT_DAYS = 5000, 30
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
SINK_DDL = ("create table adhoc_sink (o_orderkey bigint, o_totalprice double,"
            " o_orderpriority string, part_id int)"
            " using parquet partitioned by (part_id)")
SINK_DDL_TWIN = ("create table adhoc_sink (o_orderkey bigint, o_totalprice "
                 "double, o_orderpriority varchar, part_id integer)")


def _day(rng):
    return datetime.date(1995, 1, 1) + datetime.timedelta(
        days=rng.randrange(2300))


def _read(rng, kind):
    """One read statement of template `kind`: (dialect text, DuckDB twin)."""
    if kind == "point":
        k = rng.randrange(N_ORDERS)
        q = ("select o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             f"o_orderpriority from orders where o_orderkey = {k}")
        return q, q
    if kind == "filter":
        p, qty = rng.randrange(N_PART), rng.randrange(1, 40)
        q = ("select l_orderkey, l_linenumber, l_quantity, l_extendedprice "
             f"from lineitem where l_partkey = {p} and l_quantity > {qty}")
        return q, q
    if kind == "groupby":
        n = rng.randrange(25)
        q = ("select c_mktsegment, count(*) as n, max(c_acctbal) as top, "
             f"min(c_acctbal) as bottom from customer where c_nationkey = {n} "
             "group by c_mktsegment")
        return q, q
    if kind == "topn":
        d = _day(rng)
        e = d + datetime.timedelta(days=rng.randrange(7, 60))
        q = ("select l_orderkey, l_extendedprice from lineitem "
             f"where l_shipdate >= '{d}' and l_shipdate < '{e}' "
             "order by l_extendedprice desc, l_orderkey limit 10")
        return q, q
    if kind == "join":
        d = _day(rng)
        e = d + datetime.timedelta(days=rng.randrange(3, 30))
        seg = rng.choice(SEGMENTS)
        where = (f"where o_orderdate >= '{d}' and o_orderdate < '{e}' "
                 f"and c_mktsegment = '{seg}' group by n_name")
        q = ("select straight_join n_name, count(*) as n from customer "
             "join [shuffle] orders on c_custkey = o_custkey "
             "join nation on c_nationkey = n_nationkey " + where)
        twin = ("select n_name, count(*) as n from customer "
                "join orders on c_custkey = o_custkey "
                "join nation on c_nationkey = n_nationkey " + where)
        return q, twin
    if kind == "setopt":
        a = rng.randrange(1, 45)
        body = ("select p_brand, count(*) as n, max(p_retailprice) as top "
                f"from part where p_size between {a} and {a + 5} "
                "group by p_brand")
        q = f"set batch_size={rng.choice([512, 1024, 4096])}; " + body
        return q, body
    if kind == "events":
        u = rng.randrange(N_USERS)
        q = ("select event_type, count(*) as n, max(value) as top from events "
             f"where user_id = {u} group by event_type")
        return q, q
    # read back the partitions the warm-up wrote; timed inserts write
    # partitions of their own, so this result does not depend on their
    # completion order
    p = rng.randrange(4)
    q = ("select o_orderpriority, count(*) as n, max(o_totalprice) as top "
         f"from adhoc_sink where part_id = {p} group by o_orderpriority")
    return q, q


def _insert(rng, part_id):
    c = rng.randrange(N_CUST)
    q = (f"insert into table adhoc_sink partition (part_id={part_id}) "
         "select o_orderkey, o_totalprice, o_orderpriority from orders "
         f"where o_custkey = {c}")
    twin = ("insert into adhoc_sink select o_orderkey, o_totalprice, "
            f"o_orderpriority, {part_id} from orders where o_custkey = {c}")
    return q, twin


def _arrivals(rng, start, seconds):
    """A Poisson process conditioned on its count: uniform order statistics,
    so every seed offers the same number of statements in the span; the
    template mix is fixed too, so seeds differ only in literals and order."""
    n = int(round(ADHOC_RATE * seconds))
    n_ins = int(round(ADHOC_WRITE_SHARE * n))
    kinds = ["insert"] * n_ins + [READS[i % len(READS)] for i in range(n - n_ins)]
    rng.shuffle(kinds)
    dues = sorted(rng.uniform(start, start + seconds) for _ in range(n))
    return list(zip(dues, kinds))


def _adhoc(rng, seconds):
    # untimed set-up of the sink table, then one statement per template
    warmup = [{"sql": SINK_DDL, "twin": SINK_DDL_TWIN, "kind": "ddl"}]
    for p in range(4):
        q, t = _insert(rng, p)
        warmup.append({"sql": q, "twin": t, "kind": "insert"})
    for kind in READS:
        q, t = _read(rng, kind)
        warmup.append({"sql": q, "twin": t, "kind": kind})
    ops, part_id = [], 100
    load = _arrivals(rng, 0.0, RAMP_S) + _arrivals(rng, RAMP_S, seconds)
    for i, (due, kind) in enumerate(load):
        op = {"id": i, "due": round(due, 6), "kind": kind}
        if kind == "insert":
            op["sql"], op["twin"] = _insert(rng, part_id)
            op["part_id"] = part_id
            part_id += 1
        else:
            op["sql"], op["twin"] = _read(rng, kind)
        ops.append(op)
    return {"threads": ADHOC_THREADS, "warmup": warmup, "ops": ops}


def _stream(rng, seconds):
    n = int((RAMP_S + seconds) / STREAM_INTERVAL_S)
    twins = []
    for k, name in enumerate(TWINS):
        phase = k * STREAM_INTERVAL_S / len(TWINS)
        # chunk 0 seeds the source schema before the stream starts; chunks
        # 1..n land on the schedule, jittered by up to a tenth of the interval
        land = [round(phase + i * STREAM_INTERVAL_S +
                      rng.uniform(0, STREAM_INTERVAL_S / 10), 6)
                for i in range(n)]
        twin = {"name": name, "chunks": n + 1, "land": land}
        if name == "asof":
            twin["day0"] = rng.randrange(EVENT_DAYS - 8)
            twin["days"] = 8
        else:
            twin["doc_lo"] = rng.randrange(N_DOCS // 2)
            twin["docs"] = N_DOCS // 2
        twins.append(twin)
    return {"trigger_ms": STREAM_TRIGGER_MS, "twins": twins}


def plan(workload, seed, seconds):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    p = {"workload": workload, "seed": seed, "seconds": seconds,
         "ramp_s": RAMP_S, "jvm_opts": JVM_OPTS[workload]}
    if workload == "adhoc_sql":
        p.update(_adhoc(rng, seconds))
    else:
        p.update(_stream(rng, seconds))
    p["digest"] = hashlib.sha256(
        json.dumps(p, sort_keys=True).encode()).hexdigest()
    return p
